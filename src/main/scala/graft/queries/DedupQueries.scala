package graft.queries

import graft.Tables
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Deduplication queries over `documents`: exact, MinHash + LSH,
  * n-gram and set-similarity Jaccard, containment and quotes, SimHash
  * and embedding-cosine near-duplicates, each batch and incremental.
  */
object DedupQueries {

  /** Planted-quote corpus: documents plus a 150-char window of every
    * 5th long document (id offset +1e6) — the containment family's
    * fixture, derived identically in [[AugQuoteCte]] so the engines
    * cannot disagree about the plant.
    */
  private def augmentedQuotes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "augQuotes") {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), col("text")).unionByName(
        d.filter(col("doc_id") % 5 === 0 && col("n_chars") >= 450)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            substring(col("text"), 31, 150).as("text")))
    }

  /** Session memo of the bottom-8 anchor candidate set over the
    * planted-quote corpus — candidate generation is the index-grade
    * blocking artifact both quote queries share; only the containment
    * VERIFY stays per-query work (the BuildMemo convention).
    */
  private def quoteAnchorCands(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // resolve the dependency BEFORE entering the memo lambda: nested
    // BuildMemo.df calls are safe since the get-then-putIfAbsent fix,
    // but a pre-resolved dependency keeps the build lambda re-entrancy-
    // free by construction (ADVICE r16)
    val tks = quoteTokens(s, dir)
    BuildMemo.df(s, dir, "quoteAnchorCands") {
      Dedup.anchorCandidatePairsFrom(tks, 8)
    }
  }

  /** Session memo of the distinct shingle-token relation over the
    * planted-quote corpus — the ONE shingle explode every leg of the
    * containment family derives from (r17 verdict: the exact and
    * anchored legs each rebuilt it). Anchors, prefixes and verify
    * arrays all consume this. */
  private def quoteTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val aug = augmentedQuotes(s, dir)
    BuildMemo.df(s, dir, "quoteTokens") {
      Dedup.containmentTokens(aug, "doc_id")
    }
  }

  /** Session memo of the frequency-sorted per-doc token arrays over the
    * planted-quote corpus — the containment family's verify/prefix
    * artifact, derived from [[quoteTokens]]. */
  private def quoteDocTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tks = quoteTokens(s, dir)
    BuildMemo.df(s, dir, "quoteDocTokens") {
      Dedup.containmentDocTokens(tks)
    }
  }

  /** [[quoteTokens]] over the SHORT-quote audit corpus. */
  private def shortQuoteTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val sq = shortQuotes(s, dir)
    BuildMemo.df(s, dir, "shortQuoteTokens") {
      Dedup.containmentTokens(sq, "doc_id")
    }
  }

  /** [[quoteDocTokens]] over the SHORT-quote audit corpus. */
  private def shortQuoteDocTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tks = shortQuoteTokens(s, dir)
    BuildMemo.df(s, dir, "shortQuoteDocTokens") {
      Dedup.containmentDocTokens(tks)
    }
  }

  /** Bottom-8 anchor candidates over the SHORT-quote audit corpus —
    * the index-grade blocking artifact of the anchored leg of
    * `dedup_quote_missed`, from the shared [[shortQuoteTokens]]. */
  private def shortQuoteAnchorCands(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tks = shortQuoteTokens(s, dir)
    BuildMemo.df(s, dir, "shortQuoteAnchorCands") {
      Dedup.anchorCandidatePairsFrom(tks, 8)
    }
  }

  private val AugQuoteCte: String =
    """aug AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 31, 150) FROM documents
      |  WHERE doc_id % 5 = 0 AND n_chars >= 450)""".stripMargin

  /** Short-quote planted corpus for the anchor miss audit: documents
    * plus a 40-char window (~5 shingles) of every 5th long doc, id
    * offset +2e6 — verbatim containment 1.0, but small enough that the
    * long side's bottom-8 anchors usually fall outside the window.
    * Derived identically in [[ShortQuoteCte]].
    */
  private def shortQuotes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "shortQuotes") {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), col("text")).unionByName(
        d.filter(col("doc_id") % 5 === 0 && col("n_chars") >= 450)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            substring(col("text"), 61, 40).as("text")))
    }

  private val ShortQuoteCte: String =
    """aug AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, substr(text, 61, 40) FROM documents
      |  WHERE doc_id % 5 = 0 AND n_chars >= 450)""".stripMargin

  /** Near-threshold planted corpus for the LSH miss audit: documents
    * plus, for every 7th doc with >= 40 words, a twin carrying its
    * first ceil(0.6·n) words (id + 2e6) — shingle jaccard ≈ 0.6, the
    * band where a 16/4 LSH's catch probability bottoms out. ONE
    * definition feeds both engines ([[NearThresholdCte]]).
    */
  private def plantedNearThreshold(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "plantedNearThreshold") {
      val d = Tables.documents(s, dir)
      val ws = expr("filter(split(lower(text), ' '), x -> x != '')")
      d.select(col("doc_id"), col("text")).unionByName(
        d.select(col("doc_id"), ws.as("__ws"))
          .filter(col("doc_id") % 7 === 0 && size(col("__ws")) >= 40)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            array_join(expr(
              "slice(__ws, 1, CAST(ceil(size(__ws) * 0.6) AS INT))"),
              " ").as("text")))
    }

  private val NearThresholdCte: String =
    """aug2 AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id,
      |    array_to_string(ws2[1:CAST(ceil(len(ws2) * 0.6) AS INT)], ' ')
      |      AS text
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(lower(text), ' '),
      |                      x -> x <> '') AS ws2
      |        FROM documents)
      |  WHERE doc_id % 7 = 0 AND len(ws2) >= 40)""".stripMargin

  /** Bottom-`n` shingle-anchor candidate CTE over shingle relation `sh`:
    * terminal `cand(doc_a, doc_b)` — [[Dedup.anchorCandidatePairs]]
    * restated (hash32 of the shingle, per-doc bottom-n, anchor-keyed
    * self-join).
    */
  private def anchorCandCtes(n: Int): String =
    s"""hh AS (SELECT doc_id, s,
       |    CAST(${hexToLongSql("md5(s)", 1, 8)} AS BIGINT) AS ah
       |  FROM sh),
       |an AS (SELECT ah, doc_id FROM (
       |    SELECT ah, doc_id, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY ah, s) AS rn FROM hh)
       |  WHERE rn <= $n),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM an a JOIN an b ON a.ah = b.ah AND a.doc_id < b.doc_id)""".stripMargin

  /** Shared SimHash CTE prefix (64-bit tf-weighted, two 32-bit halves).
    * Mirrors [[Dedup.simhash]]'s single-parse bit extraction: the md5 hex
    * is folded ONCE per token into two 32-bit integers (`hh`, `hl`); bit i
    * is then a shift+mask on the right half — identical bits to the
    * per-digit walk, 64x fewer string ops on both engines.
    */
  private val SimhashCtes: String =
    s"""tok AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      |        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |              FROM documents) GROUP BY 1, 2),
      |th AS (SELECT doc_id, tf,
      |         ${hexToLongSql("h", 1, 8)} AS hh,
      |         ${hexToLongSql("h", 9, 8)} AS hl
      |       FROM (SELECT doc_id, tf, md5(w) AS h FROM tok)),
      |bits AS (SELECT doc_id, i,
      |           sum(tf * (2 * ((CASE WHEN i < 32
      |                             THEN hh >> CAST(31 - i AS INT)
      |                             ELSE hl >> CAST(63 - i AS INT) END) & 1) - 1)) AS s
      |         FROM th, unnest(range(0, 64)) t(i) GROUP BY 1, 2),
      |sh AS (SELECT doc_id,
      |         CAST(sum(CASE WHEN s > 0 AND i < 32
      |             THEN 1::BIGINT << CAST(31 - i AS INT) ELSE 0 END) AS BIGINT) AS simhash_hi,
      |         CAST(sum(CASE WHEN s > 0 AND i >= 32
      |             THEN 1::BIGINT << CAST(63 - i AS INT) ELSE 0 END) AS BIGINT) AS simhash_lo
      |       FROM bits GROUP BY 1)""".stripMargin

  /** [[SimhashCtes]] extended to the pigeonhole-banded candidate pairs and
    * the hamming-verified pair set `spairs` (mirrors
    * [[Dedup.simhashPairs]]) — shared by the pair and cluster oracles.
    */
  private val SimhashPairCtes: String =
    s"""$SimhashCtes,
       |bnd AS (SELECT doc_id, b,
       |          CASE b WHEN 0 THEN simhash_hi >> 16
       |                 WHEN 1 THEN simhash_hi & 65535
       |                 WHEN 2 THEN simhash_lo >> 16
       |                 ELSE simhash_lo & 65535 END AS v
       |        FROM sh, unnest(range(0, 4)) t(b)),
       |cnd AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM bnd a JOIN bnd b
       |        ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id),
       |spairs AS (SELECT doc_a, doc_b,
       |             CAST(bit_count(xor(x.simhash_hi, y.simhash_hi)) +
       |                  bit_count(xor(x.simhash_lo, y.simhash_lo)) AS INT) AS hamming
       |           FROM cnd JOIN sh x ON doc_a = x.doc_id
       |                    JOIN sh y ON doc_b = y.doc_id
       |           WHERE bit_count(xor(x.simhash_hi, y.simhash_hi)) +
       |                 bit_count(xor(x.simhash_lo, y.simhash_lo)) <= 3)""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT md5(lower(text)) AS text_key, min(doc_id) AS keeper_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    Declared("dedup_exact_rows", (s, dir) =>
      Dedup.exactKeepFirst(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT * FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents
        |                 GROUP BY md5(lower(text)))""".stripMargin),

    // incremental exact dedup: the 20% "new batch" with rows already in
    // the 80% "ingested corpus" dropped (content-hash anti-join), then
    // keep-first within the batch — the per-ingest exact face
    Declared("dedup_exact_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactIncremental(
        docs.filter(Dedup.hashBucket(col("doc_id")) < 20),
        docs.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        "doc_id", "text")
    },
      // batch rows not already ingested (hash anti-join), keep-first within
      // the batch
      s"""WITH b AS (SELECT * FROM documents WHERE $HashBucketSql < 20),
         |c AS (SELECT DISTINCT md5(lower(text)) AS h FROM documents
         |      WHERE $HashBucketSql >= 20),
         |fresh AS (SELECT b.* FROM b
         |          WHERE NOT EXISTS (SELECT 1 FROM c
         |                            WHERE c.h = md5(lower(b.text))))
         |SELECT * FROM fresh
         |WHERE doc_id IN (SELECT min(doc_id) FROM fresh
         |                 GROUP BY md5(lower(text)))""".stripMargin),

    // incremental ingest: LSH candidates for a 20% "new batch" against the
    // other 80% "already-ingested corpus" (hash-bucket split), computed
    // batch-vs-index — the old corpus is never self-joined
    Declared("dedup_incremental_pairs", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalLshCandidates(
        docs.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        docs.filter(Dedup.hashBucket(col("doc_id")) < 20),
        "doc_id", numHashes = 16, bands = 4)
    },
      // the incremental operator's result set is, by construction, the full
      // candidate set restricted to pairs touching the new batch
      s"""WITH $MinhashCtes,
         |nw AS (SELECT doc_id FROM documents WHERE $HashBucketSql < 20)
         |SELECT doc_a, doc_b FROM cand
         |WHERE doc_a IN (SELECT doc_id FROM nw)
         |   OR doc_b IN (SELECT doc_id FROM nw)""".stripMargin),

    Declared("dedup_minhash_pairs", (s, dir) =>
      Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id",
        numHashes = 16, bands = 4),
      s"""WITH $MinhashCtes
         |SELECT doc_a, doc_b FROM cand""".stripMargin),

    // asymmetric containment over the same LSH candidates: the
    // quote/boilerplate detector Jaccard misses (a short doc fully
    // embedded in a long one has containment ~1, jaccard low)
    Declared("dedup_containment", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.containmentPairsFrom(docDocTokens(s, dir),
        Dedup.lshCandidatePairs(docs, "doc_id", 16, 4),
        threshold = 0.5)
    },
      s"""WITH ${minhashCtes("documents")},
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |       FROM cand c
         |       JOIN sh x ON x.doc_id = c.doc_a
         |       JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
         |       GROUP BY 1, 2),
         |m AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
         |        CAST(inter AS DOUBLE) / sa.c AS ca,
         |        CAST(inter AS DOUBLE) / sb.c AS cb
         |      FROM iv JOIN sz sa ON doc_a = sa.doc_id
         |              JOIN sz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard,
         |  round(ca, 6) AS cont_a_in_b, round(cb, 6) AS cont_b_in_a,
         |  CAST(CASE WHEN greatest(ca, cb) >= 0.8 AND jac < 0.5
         |       THEN 1 ELSE 0 END AS INT) AS quote_like
         |FROM m WHERE greatest(ca, cb) >= 0.5""".stripMargin),

    // quote-pair report on the PLANTED-quote corpus (documents + a
    // 150-char window of every 5th long doc, id +1e6 — both engines
    // derive the same augmentation), candidates from bottom-8 anchor
    // blocking: banded LSH would miss these pairs (~jac 0.25 sits at
    // ~1.6% catch for 16/4 bands; anchors catch 18/18 on this fixture)
    Declared("dedup_quote_pairs", (s, dir) =>
      Dedup.containmentPairsFrom(quoteDocTokens(s, dir),
          quoteAnchorCands(s, dir), threshold = 0.5)
        .filter(col("quote_like") === 1),
      s"""WITH $AugQuoteCte,
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM aug),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
         |       FROM w, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
         |${anchorCandCtes(8)},
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |       FROM cand c
         |       JOIN sh x ON x.doc_id = c.doc_a
         |       JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
         |       GROUP BY 1, 2),
         |m AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
         |        CAST(inter AS DOUBLE) / sa.c AS ca,
         |        CAST(inter AS DOUBLE) / sb.c AS cb
         |      FROM iv JOIN sz sa ON doc_a = sa.doc_id
         |              JOIN sz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard,
         |  round(ca, 6) AS cont_a_in_b, round(cb, 6) AS cont_b_in_a,
         |  CAST(1 AS INT) AS quote_like
         |FROM m WHERE greatest(ca, cb) >= 0.8 AND jac < 0.5
         |  AND greatest(ca, cb) >= 0.5""".stripMargin),

    // the containment family's keep rule on the same planted corpus:
    // drop every flagged quote (the side with the HIGHER containment —
    // its shingles are the intersection; ties by higher id)
    Declared("dedup_quotes_removed", (s, dir) => {
      val docs = augmentedQuotes(s, dir)
      // persist() is a deliberate pushdown BARRIER, not a cache-for-reuse:
      // left lazy, the drop-rule CASE below is pushed into the verify
      // join's condition, where every WHEN branch re-evaluates
      // size(array_intersect(wa, wb)) — join-condition codegen has no
      // subexpression elimination, so the shingle-intersect kernel ran
      // ~9x per candidate instead of ~5x (the r18 2x regression on this
      // query; VERDICT r18 task 1). Materializing the tiny verified-pair
      // relation keeps the join condition identical to the flat sibling
      // dedup_quote_pairs and makes the CASE run once per SURVIVING pair.
      val pairs = Dedup.containmentPairsFrom(quoteDocTokens(s, dir),
        quoteAnchorCands(s, dir), threshold = 0.5)
        .filter(col("quote_like") === 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val drop = pairs.select(
        when(col("cont_a_in_b") > col("cont_b_in_a"), col("doc_a"))
          .when(col("cont_b_in_a") > col("cont_a_in_b"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      docs.join(drop, Seq("doc_id"), "left_anti")
    },
      s"""WITH $AugQuoteCte,
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM aug),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
         |       FROM w, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
         |${anchorCandCtes(8)},
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |       FROM cand c
         |       JOIN sh x ON x.doc_id = c.doc_a
         |       JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
         |       GROUP BY 1, 2),
         |m AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
         |        CAST(inter AS DOUBLE) / sa.c AS ca,
         |        CAST(inter AS DOUBLE) / sb.c AS cb
         |      FROM iv JOIN sz sa ON doc_a = sa.doc_id
         |              JOIN sz sb ON doc_b = sb.doc_id),
         |ql AS (SELECT * FROM m
         |       WHERE greatest(ca, cb) >= 0.8 AND jac < 0.5
         |         AND greatest(ca, cb) >= 0.5),
         |dropped AS (SELECT DISTINCT CASE
         |    WHEN ca > cb THEN doc_a
         |    WHEN cb > ca THEN doc_b
         |    ELSE greatest(doc_a, doc_b) END AS doc_id
         |  FROM ql)
         |SELECT * FROM aug
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),

    // EXACT containment self-join on the planted-quote corpus (r17):
    // zero-false-negative cross-product semantics — the deterministic
    // companion of the anchor-blocked quote detector, exactly as
    // dedup_setsim_pairs is to banded LSH. Oracle = the unfiltered
    // brute-force shingle join, so the contained-side prefix lemma is
    // hash-gated
    Declared("dedup_containment_exact", (s, dir) =>
      Dedup.containmentSelfPairsFrom(quoteDocTokens(s, dir),
        threshold = 0.5),
      s"""WITH $AugQuoteCte,
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM aug),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
         |       FROM w, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS inter
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |m AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
         |        CAST(inter AS DOUBLE) / sa.c AS ca,
         |        CAST(inter AS DOUBLE) / sb.c AS cb
         |      FROM iv JOIN sz sa ON doc_a = sa.doc_id
         |              JOIN sz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard,
         |  round(ca, 6) AS cont_a_in_b, round(cb, 6) AS cont_b_in_a,
         |  CAST(CASE WHEN greatest(ca, cb) >= 0.8 AND jac < 0.5
         |       THEN 1 ELSE 0 END AS INT) AS quote_like
         |FROM m WHERE greatest(ca, cb) >= 0.5""".stripMargin),

    // the quote pairs bottom-8 anchor blocking MISSES: exact
    // containment join minus the anchor-blocked candidates' verified
    // pairs — the approximation error of the anchor family as a
    // declared, auditable relation (the dedup_lsh_missed discipline
    // applied to its remaining approximate sibling). The 150-char
    // planted windows are anchor-friendly (0 misses at sf0.01 — ~23
    // shingles give the long side's bottom-8 a high hit rate), so the
    // audit plants SHORT 40-char windows (~5 shingles): containment is
    // still exactly 1.0 (verbatim substring), but the long doc's
    // bottom-8 anchors rarely land inside so small a window — the
    // regime where anchor blocking genuinely loses quotes
    Declared("dedup_quote_missed", (s, dir) => {
      // BOTH legs consume the memoized shortQuote sub-builds (r17
      // verdict task 1): one shingle explode, one freq/array build,
      // shared by the exact join AND the anchored pipeline
      val dts = shortQuoteDocTokens(s, dir)
      Dedup.containmentSelfPairsFrom(dts, threshold = 0.5)
        .join(Dedup.containmentPairsFrom(dts,
            shortQuoteAnchorCands(s, dir), threshold = 0.5)
            .select(col("doc_a"), col("doc_b")),
          Seq("doc_a", "doc_b"), "left_anti")
    },
      s"""WITH $ShortQuoteCte,
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM aug),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
         |       FROM w, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
         |${anchorCandCtes(8)},
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS inter
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |m AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
         |        CAST(inter AS DOUBLE) / sa.c AS ca,
         |        CAST(inter AS DOUBLE) / sb.c AS cb
         |      FROM iv JOIN sz sa ON doc_a = sa.doc_id
         |              JOIN sz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard,
         |  round(ca, 6) AS cont_a_in_b, round(cb, 6) AS cont_b_in_a,
         |  CAST(CASE WHEN greatest(ca, cb) >= 0.8 AND jac < 0.5
         |       THEN 1 ELSE 0 END AS INT) AS quote_like
         |FROM m WHERE greatest(ca, cb) >= 0.5
         |  AND NOT EXISTS (SELECT 1 FROM cand
         |    WHERE cand.doc_a = m.doc_a AND cand.doc_b = m.doc_b)""".stripMargin),

    // the incremental face of the exact containment join: 20% batch vs
    // 80% corpus (the standard hash split), old side never self-joined;
    // either side of a cross pair can be the contained one, so both
    // blocking legs are exercised
    Declared("dedup_containment_incremental", (s, dir) => {
      val docs = augmentedQuotes(s, dir)
      Dedup.containmentIncremental(
        docs.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        docs.filter(Dedup.hashBucket(col("doc_id")) < 20),
        "doc_id", threshold = 0.5)
    },
      // the full exact containment set restricted to pairs touching the
      // batch (the dedup_setsim_incremental convention)
      s"""WITH $AugQuoteCte,
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM aug),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
         |       FROM w, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
         |nw AS (SELECT doc_id FROM aug WHERE $HashBucketSql < 20),
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS inter
         |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |m AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
         |        CAST(inter AS DOUBLE) / sa.c AS ca,
         |        CAST(inter AS DOUBLE) / sb.c AS cb
         |      FROM iv JOIN sz sa ON doc_a = sa.doc_id
         |              JOIN sz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard,
         |  round(ca, 6) AS cont_a_in_b, round(cb, 6) AS cont_b_in_a,
         |  CAST(CASE WHEN greatest(ca, cb) >= 0.8 AND jac < 0.5
         |       THEN 1 ELSE 0 END AS INT) AS quote_like
         |FROM m WHERE greatest(ca, cb) >= 0.5
         |  AND (doc_a IN (SELECT doc_id FROM nw)
         |    OR doc_b IN (SELECT doc_id FROM nw))""".stripMargin),

    // WEIGHTED (multiset) exact set-similarity: term-frequency weights
    // make repetition count — "spam spam spam spam" is NOT one "spam"
    // (the boilerplate signature set-jaccard flattens away). %3 subset
    // keeps the word-universe blocking (inherently output-dense on the
    // 31-word vocabulary) bench-sized
    Declared("dedup_setsim_weighted", (s, dir) =>
      Dedup.weightedSetSimilarityPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 3 === 0),
        "doc_id", threshold = 0.5),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |tw AS (SELECT doc_id,
        |    string_split(lower(text), ' ') AS ws FROM d),
        |tok AS (SELECT doc_id, ws[i] AS w
        |       FROM tw, unnest(range(1, len(ws)+1)) t(i)),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |sw AS (SELECT doc_id, sum(tf) AS sw FROM tf GROUP BY 1),
        |mi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        sum(least(a.tf, b.tf)) AS m
        |      FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b,
        |        CAST(m AS DOUBLE) / (sa.sw + sb.sw - m) AS jw
        |      FROM mi JOIN sw sa ON doc_a = sa.doc_id
        |              JOIN sw sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, round(jw, 6) AS wjaccard
        |FROM j WHERE jw >= 0.5""".stripMargin),

    // WEIGHTED containment: repetition must be COVERED, not just
    // present — set containment calls a page repeating one boilerplate
    // line 50x "contained" after a single occurrence; the weighted
    // form is the honest templated-spam detector. Same %3 subset as
    // the weighted jaccard
    Declared("dedup_containment_weighted", (s, dir) =>
      Dedup.weightedContainmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 3 === 0),
        "doc_id", threshold = 0.5),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |tw AS (SELECT doc_id,
        |    string_split(lower(text), ' ') AS ws FROM d),
        |tok AS (SELECT doc_id, ws[i] AS w
        |       FROM tw, unnest(range(1, len(ws)+1)) t(i)),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |sw AS (SELECT doc_id, sum(tf) AS sw FROM tf GROUP BY 1),
        |mi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        sum(least(a.tf, b.tf)) AS m
        |      FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b,
        |        CAST(m AS DOUBLE) / (sa.sw + sb.sw - m) AS jw,
        |        CAST(m AS DOUBLE) / sa.sw AS ca,
        |        CAST(m AS DOUBLE) / sb.sw AS cb
        |      FROM mi JOIN sw sa ON doc_a = sa.doc_id
        |              JOIN sw sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, round(jw, 6) AS wjaccard,
        |  round(ca, 6) AS wcont_a_in_b, round(cb, 6) AS wcont_b_in_a
        |FROM j WHERE greatest(ca, cb) >= 0.5""".stripMargin),

    // incremental face of the weighted set-similarity join (r18): 20%
    // batch vs 80% corpus on the %3 subset, old side never self-joined,
    // vocabulary order pinned to corpus-only term document-frequencies
    Declared("dedup_setsim_weighted_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
      Dedup.weightedSetSimilarityIncremental(
        docs.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        docs.filter(Dedup.hashBucket(col("doc_id")) < 20),
        "doc_id", threshold = 0.5)
    },
      // the full weighted-jaccard pair set restricted to pairs touching
      // the batch (the dedup_setsim_incremental convention)
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |tw AS (SELECT doc_id,
         |    string_split(lower(text), ' ') AS ws FROM d),
         |tok AS (SELECT doc_id, ws[i] AS w
         |       FROM tw, unnest(range(1, len(ws)+1)) t(i)),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
         |sw AS (SELECT doc_id, sum(tf) AS sw FROM tf GROUP BY 1),
         |nw AS (SELECT doc_id FROM d WHERE $HashBucketSql < 20),
         |mi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        sum(least(a.tf, b.tf)) AS m
         |      FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        CAST(m AS DOUBLE) / (sa.sw + sb.sw - m) AS jw
         |      FROM mi JOIN sw sa ON doc_a = sa.doc_id
         |              JOIN sw sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jw, 6) AS wjaccard
         |FROM j WHERE jw >= 0.5
         |  AND (doc_a IN (SELECT doc_id FROM nw)
         |    OR doc_b IN (SELECT doc_id FROM nw))""".stripMargin),

    // incremental face of the weighted containment join (r18): either
    // side of a cross pair can be the contained one, so both blocking
    // legs are exercised (the dedup_containment_incremental convention)
    Declared("dedup_containment_weighted_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
      Dedup.weightedContainmentIncremental(
        docs.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        docs.filter(Dedup.hashBucket(col("doc_id")) < 20),
        "doc_id", threshold = 0.5)
    },
      // the full weighted-containment pair set restricted to pairs
      // touching the batch
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |tw AS (SELECT doc_id,
         |    string_split(lower(text), ' ') AS ws FROM d),
         |tok AS (SELECT doc_id, ws[i] AS w
         |       FROM tw, unnest(range(1, len(ws)+1)) t(i)),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
         |sw AS (SELECT doc_id, sum(tf) AS sw FROM tf GROUP BY 1),
         |nw AS (SELECT doc_id FROM d WHERE $HashBucketSql < 20),
         |mi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        sum(least(a.tf, b.tf)) AS m
         |      FROM tf a JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        CAST(m AS DOUBLE) / (sa.sw + sb.sw - m) AS jw,
         |        CAST(m AS DOUBLE) / sa.sw AS ca,
         |        CAST(m AS DOUBLE) / sb.sw AS cb
         |      FROM mi JOIN sw sa ON doc_a = sa.doc_id
         |              JOIN sw sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jw, 6) AS wjaccard,
         |  round(ca, 6) AS wcont_a_in_b, round(cb, 6) AS wcont_b_in_a
         |FROM j WHERE greatest(ca, cb) >= 0.5
         |  AND (doc_a IN (SELECT doc_id FROM nw)
         |    OR doc_b IN (SELECT doc_id FROM nw))""".stripMargin),

    Declared("dedup_fuzzy", (s, dir) =>
      Dedup.fuzzy(Tables.documents(s, dir), "doc_id",
        numHashes = 16, bands = 4, threshold = 0.5),
      s"""WITH $FuzzyCtes
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM ver""".stripMargin),

    // the pairs banded LSH MISSES: exact join minus the verified LSH
    // result — the approximation error of the 16/4 banding at t=0.5 as
    // a first-class auditable relation. The fixture corpus is too
    // dissimilar-or-identical for misses (the ladder showed 0.7-1.0%
    // only at replica scale), so the audit runs on a PLANTED
    // near-threshold corpus: every 7th long doc gets a 60%-prefix twin
    // (jaccard ≈ 0.6 — right where a 16/4 banding's catch probability
    // bottoms out at ~43%), derived identically on both engines.
    Declared("dedup_lsh_missed", (s, dir) => {
      val docs = plantedNearThreshold(s, dir)
      Dedup.setSimilarityPairs(docs, "doc_id", threshold = 0.5)
        .join(Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4,
            threshold = 0.5).select(col("doc_a"), col("doc_b")),
          Seq("doc_a", "doc_b"), "left_anti")
    },
      // exact pair set minus the LSH-verified pair set over the planted
      // near-threshold corpus (the fuzzy CTEs replayed verbatim on aug2)
      s"""WITH $NearThresholdCte,
         |${fuzzyCtes("aug2")},
         |stw AS (SELECT doc_id,
         |    string_split(lower(text), ' ') AS wss FROM aug2),
         |stk AS (SELECT DISTINCT doc_id,
         |        array_to_string(wss[i:i+2], ' ') AS tw
         |       FROM stw, unnest(range(1, greatest(len(wss)-2, 0)+1)) t(i)),
         |stsz AS (SELECT doc_id, count(*) AS c FROM stk GROUP BY 1),
         |stiv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS inter
         |      FROM stk a JOIN stk b ON a.tw = b.tw AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |stj AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac
         |      FROM stiv JOIN stsz sa ON doc_a = sa.doc_id
         |                JOIN stsz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
         |FROM stj WHERE jac >= 0.5
         |  AND NOT EXISTS (SELECT 1 FROM ver v
         |    WHERE v.doc_a = stj.doc_a AND v.doc_b = stj.doc_b)""".stripMargin),

    // the incremental face of the exact set-similarity join: 20% batch
    // vs 80% corpus (the standard hash split), old side never
    // self-joined; vocabulary order pinned to corpus-only frequencies
    // (any total order satisfies the prefix lemma)
    Declared("dedup_setsim_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.setSimilarityIncremental(
        docs.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        docs.filter(Dedup.hashBucket(col("doc_id")) < 20),
        "doc_id", threshold = 0.5)
    },
      // the full exact pair set restricted to pairs touching the batch
      // (the dedup_incremental_pairs convention for the exact family)
      s"""WITH tw AS (SELECT doc_id,
         |    string_split(lower(text), ' ') AS ws FROM documents),
         |tk AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS w
         |       FROM tw, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
         |nw AS (SELECT doc_id FROM documents WHERE $HashBucketSql < 20),
         |tsz AS (SELECT doc_id, count(*) AS c FROM tk GROUP BY 1),
         |tiv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS inter
         |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |tj AS (SELECT doc_a, doc_b,
         |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac
         |      FROM tiv JOIN tsz sa ON doc_a = sa.doc_id
         |               JOIN tsz sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
         |FROM tj WHERE jac >= 0.5
         |  AND (doc_a IN (SELECT doc_id FROM nw)
         |    OR doc_b IN (SELECT doc_id FROM nw))""".stripMargin),

    // EXACT shingle-set Jaccard self-join via prefix filtering
    // (AllPairs/SSJoin): the same pair semantics as dedup_fuzzy (k=3
    // shingles, jaccard >= 0.5) but with ZERO false negatives — banded
    // LSH misses low-band-collision pairs; this result is the true
    // superset. The oracle is the unfiltered cross product, so the
    // prefix lemma itself is hash-gated.
    Declared("dedup_setsim_pairs", (s, dir) =>
      Dedup.setSimilarityPairs(Tables.documents(s, dir), "doc_id",
        threshold = 0.5),
      // exact cross-product shingle-set jaccard — NO prefix filter
      // modeled: the engine's prefix-pruned plan must reproduce it exactly
      """WITH tw AS (SELECT doc_id,
        |    string_split(lower(text), ' ') AS ws FROM documents),
        |tk AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS w
        |       FROM tw, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
        |tsz AS (SELECT doc_id, count(*) AS c FROM tk GROUP BY 1),
        |tiv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        count(*) AS inter
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |tj AS (SELECT doc_a, doc_b,
        |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac
        |      FROM tiv JOIN tsz sa ON doc_a = sa.doc_id
        |               JOIN tsz sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
        |FROM tj WHERE jac >= 0.5""".stripMargin),

    // WORD-set mode of the exact join (k = 1) — the regime r16 recorded
    // as degenerate (the 31-word fixture vocabulary makes every prefix
    // token corpus-common). Served directly since the PPJoin filters
    // (r17): candidates are bounded to ~1.2x of the TRUE output, which
    // on this corpus is itself near-quadratic (most doc pairs genuinely
    // share half their vocabulary at t = 0.5 — the output is the cost,
    // not the algorithm). Oracle = the unfiltered brute-force word join.
    Declared("dedup_setsim_words", (s, dir) =>
      Dedup.setSimilarityPairs(Tables.documents(s, dir), "doc_id",
        threshold = 0.5, k = 1),
      """WITH tw AS (SELECT doc_id,
        |    string_split(lower(text), ' ') AS ws FROM documents),
        |tk AS (SELECT DISTINCT doc_id, ws[i] AS w
        |       FROM tw, unnest(range(1, len(ws)+1)) t(i)),
        |tsz AS (SELECT doc_id, count(*) AS c FROM tk GROUP BY 1),
        |tiv AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        count(*) AS inter
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |tj AS (SELECT doc_a, doc_b,
        |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac
        |      FROM tiv JOIN tsz sa ON doc_a = sa.doc_id
        |               JOIN tsz sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, round(jac, 6) AS jaccard
        |FROM tj WHERE jac >= 0.5""".stripMargin),

    // cluster resolution over the verified pairs: every clustered doc with
    // its keeper (= min id reachable through the near-dup graph)
    Declared("dedup_fuzzy_resolved", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.resolveClusters(
          Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4, threshold = 0.5))
        .select(col("node").as("doc_id"), col("label").as("keeper_id"),
          when(col("node") === col("label"), 1).otherwise(0).as("kept"))
    },
      s"""WITH RECURSIVE $ClusterCtes
         |SELECT node AS doc_id, keeper AS keeper_id,
         |       CAST(CASE WHEN node = keeper THEN 1 ELSE 0 END AS INT) AS kept
         |FROM cc""".stripMargin),

    // the deduplicated corpus itself (fuzzy analogue of dedup_exact_rows)
    Declared("dedup_fuzzy_kept", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.fuzzyKeepFirst(docs,
        Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4, threshold = 0.5),
        "doc_id")
    },
      s"""WITH RECURSIVE $ClusterCtes
         |SELECT * FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)""".stripMargin),

    // quality-aware keeper policy: per near-dup cluster keep the LONGEST
    // member (ties on id) instead of the lowest id — the curation-grade
    // keeper rule (keep the best capture of a page, not the first)
    Declared("dedup_fuzzy_keep_best", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.fuzzyKeepBest(docs,
        Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4, threshold = 0.5),
        "doc_id", col("n_chars"))
    },
      s"""WITH RECURSIVE $ClusterCtes,
         |worse AS (SELECT node FROM (
         |    SELECT cc.node, row_number() OVER (PARTITION BY cc.keeper
         |        ORDER BY d.n_chars DESC, cc.node) AS rn
         |    FROM cc JOIN documents d ON d.doc_id = cc.node) WHERE rn > 1)
         |SELECT * FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM worse)""".stripMargin),

    // the guarded production composition: exact collapse FIRST (floods of
    // identical docs contribute one bucket member), then fuzzy keep-first
    // with the hot-bucket backstop armed (no fixture bucket exceeds it, so
    // the oracle is the uncapped pipeline over the collapsed corpus)
    Declared("dedup_guarded_kept", (s, dir) =>
      Dedup.nearDupKeepFirst(Tables.documents(s, dir), "doc_id",
        numHashes = 16, bands = 4, threshold = 0.5, maxBucketSize = 64),
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")}
         |SELECT * FROM x0
         |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)""".stripMargin),

    // the guarded composition with the quality-aware keeper: exact
    // collapse, capped fuzzy, keep the LONGEST member per cluster
    Declared("dedup_guarded_keep_best", (s, dir) =>
      Dedup.nearDupKeepBest(Tables.documents(s, dir), "doc_id",
        numHashes = 16, bands = 4, threshold = 0.5, score = col("n_chars"),
        maxBucketSize = 64),
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")},
         |worse AS (SELECT node FROM (
         |    SELECT cc.node, row_number() OVER (PARTITION BY cc.keeper
         |        ORDER BY d.n_chars DESC, cc.node) AS rn
         |    FROM cc JOIN x0 d ON d.doc_id = cc.node) WHERE rn > 1)
         |SELECT * FROM x0
         |WHERE doc_id NOT IN (SELECT node FROM worse)""".stripMargin),

    // the dedup audit: cluster-size histogram over the resolved labeling
    Declared("dedup_cluster_stats", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterStats(Dedup.resolveClusters(
        Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4, threshold = 0.5)))
    },
      s"""WITH RECURSIVE $ClusterCtes,
         |sizes AS (SELECT keeper, count(*) AS cluster_size FROM cc GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY 1""".stripMargin),

    Declared("dedup_simhash", (s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text"),
      s"""WITH $SimhashCtes
         |SELECT doc_id, simhash_hi, simhash_lo FROM sh""".stripMargin),

    Declared("dedup_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash(Tables.documents(s, dir), "doc_id", "text"),
        maxHamming = 3),
      s"""WITH $SimhashPairCtes
         |SELECT doc_a, doc_b, hamming FROM spairs""".stripMargin),

    // cluster resolution over the OTHER sketch family's verified pairs —
    // the same resolveClusters operator composes with any pair source
    Declared("dedup_simhash_resolved", (s, dir) => {
      val pairs = Dedup.simhashPairs(
        Dedup.simhash(Tables.documents(s, dir), "doc_id", "text"),
        maxHamming = 3)
      Dedup.resolveClusters(pairs)
        .select(col("node").as("doc_id"), col("label").as("keeper_id"),
          when(col("node") === col("label"), 1).otherwise(0).as("kept"))
    },
      s"""WITH RECURSIVE $SimhashPairCtes,
         |${clusterWalkCtes("spairs")}
         |SELECT node AS doc_id, keeper AS keeper_id,
         |       CAST(CASE WHEN node = keeper THEN 1 ELSE 0 END AS INT) AS kept
         |FROM cc""".stripMargin),

    Declared("dedup_embedding_pairs", (s, dir) =>
      Similarity.blockedNearDupPairs(Tables.embeddings(s, dir), "label", 0.35),
      s"""SELECT vec_a, vec_b, round(sim, 6) AS cosine FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         ${cosSql("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE sim >= 0.35""".stripMargin),

    // incremental ingest for the SimHash family: batch (20% hash split) vs
    // the corpus band index + batch-internal, never corpus self-joined.
    // The sketch table is computed ONCE and split (persist) — the
    // production shape, where sketches live alongside the corpus; without
    // it both sides re-run the tokenize+64-column aggregation.
    Declared("dedup_simhash_incremental", (s, dir) => {
      val sk = Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sk.count()
      Dedup.incrementalSimhashPairs(
        sk.filter(Dedup.hashBucket(col("doc_id")) >= 20),
        sk.filter(Dedup.hashBucket(col("doc_id")) < 20),
        maxHamming = 3)
    },
      // restriction of the full simhash pair set to pairs touching the batch
      s"""WITH $SimhashPairCtes,
         |nw AS (SELECT doc_id FROM documents WHERE $HashBucketSql < 20)
         |SELECT doc_a, doc_b, hamming FROM spairs
         |WHERE doc_a IN (SELECT doc_id FROM nw)
         |   OR doc_b IN (SELECT doc_id FROM nw)""".stripMargin),

    // incremental ingest for embedding near-dup: new vectors vs the
    // persisted SRP index + batch-internal (vec_id % 5 = the "new batch")
    Declared("dedup_embedding_incremental", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.incrementalSrpNearDup(
        e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0),
        planes = 4, dim = 64, threshold = 0.25)
    },
      // SRP buckets (4 planes) -> within-bucket cosine pairs, restricted to
      // pairs touching the vec_id % 5 batch
      s"""WITH hp AS (SELECT p, i,
         |         CAST(strpos('0123456789abcdef',
         |                     substr(md5(p || ':' || i), 1, 1)) - 1 AS DOUBLE)
         |           - 7.5 AS w
         |       FROM range(0, 4) t(p), range(1, 65) u(i)),
         |d AS (SELECT e.vec_id, hp.p,
         |        sum(CAST(e.embedding[hp.i] AS DOUBLE) * hp.w) AS dot
         |      FROM embeddings e, hp GROUP BY 1, 2),
         |bk AS (SELECT vec_id,
         |         CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
         |       FROM d GROUP BY 1),
         |eb AS (SELECT e.vec_id, e.embedding, bk.bucket
         |       FROM embeddings e JOIN bk USING (vec_id)),
         |pr AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         ${cosSql("x.embedding", "y.embedding")} AS sim
         |       FROM eb x JOIN eb y
         |       ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b, round(sim, 6) AS cosine FROM pr
         |WHERE sim >= 0.25 AND (vec_a % 5 = 0 OR vec_b % 5 = 0)""".stripMargin),

    // SemDeDup: LEARNED k-means cells (2 Lloyd steps from the %50 seed,
    // same trajectory as sim_ivf_topk_learned) block the pair search —
    // paraphrase-level duplicates that token-overlap families miss
    Declared("dedup_semantic_pairs", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.semanticDedupPairs(e, e.filter(col("vec_id") % 50 === 0),
        maxIters = 2, threshold = 0.35)
    },
      // SemDeDup pairs: the sim_ivf_topk_learned k-means trajectory (two
      // rounded Lloyd steps) blocks the pair search by learned cell
      s"""WITH c0 AS (SELECT vec_id AS centroid_id, embedding AS ce
         |            FROM embeddings WHERE vec_id % 50 = 0),
         |asg1 AS (${asgSql("c0")}),
         |c1 AS (${cMeanSql("asg1")}),
         |asg2 AS (${asgSql("c1")}),
         |c2 AS (${cMeanSql("asg2")}),
         |asg3 AS (${asgSql("c2")})
         |SELECT vec_a, vec_b, round(sim, 6) AS cosine FROM (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         ${cosSql("x.embedding", "y.embedding")} AS sim
         |  FROM asg3 x JOIN asg3 y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
         |WHERE sim >= 0.35""".stripMargin),

    // the semantically deduplicated corpus: keep one member per resolved
    // cluster (scalar projection — float arrays don't hash-compare)
    Declared("dedup_semantic_kept", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.semanticKeepFirst(e, "vec_id",
          e.filter(col("vec_id") % 50 === 0), maxIters = 2, threshold = 0.35)
        .select(col("vec_id"), col("label"))
    },
      s"""WITH RECURSIVE c0 AS (SELECT vec_id AS centroid_id, embedding AS ce
         |            FROM embeddings WHERE vec_id % 50 = 0),
         |asg1 AS (${asgSql("c0")}),
         |c1 AS (${cMeanSql("asg1")}),
         |asg2 AS (${asgSql("c1")}),
         |c2 AS (${cMeanSql("asg2")}),
         |asg3 AS (${asgSql("c2")}),
         |pr AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |         ${cosSql("x.embedding", "y.embedding")} AS sim
         |  FROM asg3 x JOIN asg3 y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
         |  WHERE sim >= 0.35),
         |${clusterWalkCtes("pr")}
         |SELECT vec_id, label FROM embeddings e
         |WHERE NOT EXISTS (SELECT 1 FROM cc
         |                  WHERE node <> keeper AND node = e.vec_id)""".stripMargin),

    // incremental SemDeDup: semantic pairs for the "new batch" (vec_id
    // % 7 == 0) against the already-ingested corpus under the FROZEN
    // corpus-trained codebook — batch-vs-index, the old corpus is never
    // self-joined and the quantizer never re-trained mid-ingest
    Declared("dedup_semantic_incremental", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val corpus = e.filter(col("vec_id") % 7 =!= 0)
      val batch = e.filter(col("vec_id") % 7 === 0)
      val cb = Similarity.kmeansTrain(corpus,
        corpus.filter(col("vec_id") % 50 === 0), maxIters = 2)
      Similarity.incrementalSemanticPairs(corpus, batch, cb,
        threshold = 0.35)
    },
      // codebook trained on the corpus side only (2 Lloyd steps from the
      // corpus %50 seed), frozen; batch and corpus both assigned under it;
      // pairs = batch-vs-corpus (cross) + batch-vs-batch (intra)
      s"""WITH corp AS (SELECT vec_id, embedding FROM embeddings
         |              WHERE vec_id % 7 <> 0),
         |bat AS (SELECT vec_id, embedding FROM embeddings
         |        WHERE vec_id % 7 = 0),
         |c0 AS (SELECT vec_id AS centroid_id, embedding AS ce
         |       FROM corp WHERE vec_id % 50 = 0),
         |asg1 AS (${asgSql("c0", "corp")}),
         |c1 AS (${cMeanSql("asg1")}),
         |asg2 AS (${asgSql("c1", "corp")}),
         |c2 AS (${cMeanSql("asg2")}),
         |ac AS (${asgSql("c2", "corp")}),
         |ab AS (${asgSql("c2", "bat")}),
         |pr AS (
         |  SELECT x.vec_id AS va, y.vec_id AS vb,
         |         ${cosSql("x.embedding", "y.embedding")} AS sim
         |  FROM ab x JOIN ac y ON x.centroid_id = y.centroid_id
         |  UNION ALL
         |  SELECT x.vec_id, y.vec_id,
         |         ${cosSql("x.embedding", "y.embedding")} AS sim
         |  FROM ab x JOIN ab y
         |  ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id)
         |SELECT least(va, vb) AS vec_a, greatest(va, vb) AS vec_b,
         |       round(sim, 6) AS cosine
         |FROM pr WHERE sim >= 0.35""".stripMargin)
  )
}
