package graft.queries

import graft.Tables
import graft.ops.{Dedup, QualityModel, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** SQL fragments and build-once memos shared by more than one of the
  * query families over the fixture tables `documents`, `embeddings` and
  * `events`; a helper that one family alone uses lives in that family.
  *
  * Every oracle in those families replays the Spark computation in
  * DuckDB SQL with matching hash functions (md5 over identical strings),
  * matching integer semantics, and double-precision float math rounded
  * to 6 places.
  */
private[queries] object LlmFixtures {

  val StopEn = TextAnalysis.Stopwords("en")

  /** DuckDB list literal for a stopword list. */
  def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Deterministic-priority argmax CASE over per-language score columns,
    * generated from the SAME ordered list the Spark side uses.
    */
  def argmaxSql(prefix: String): String = {
    val langs = TextAnalysis.LangPriority
    val arms = langs.zipWithIndex.init.map { case (l, i) =>
      val conds = langs.drop(i + 1)
        .map(o => s"$prefix$l >= $prefix$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n       ")
    s"CASE $arms\n       ELSE '${langs.last}' END"
  }

  /** DuckDB double-precision dot product between two list columns,
    * accumulated in index order (mirrors Spark's `aggregate(zip_with(...))`
    * left fold).
    */
  // Native list_dot_product beats the interpreted lambda formulation
  // ~10x on the unrolled-Lloyd oracles and is BIT-IDENTICAL to it
  // (sequential left-to-right double accumulation — verified on
  // adversarial magnitude mixes AND by the full exact-compare gate; the
  // list-level DOUBLE cast preserves the old per-element cast, since
  // float->double widening is exact). The Spark twin is
  // [[graft.functions.FloatDotProduct]]'s sequential double loop.
  def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Nearest-centroid assignment CTE body (mirrors [[Similarity.ivfAssign]]:
    * argmax cosine, ties on centroid id) against centroid CTE `cCte`,
    * assigning the rows of `base` (default: the full embeddings table).
    */
  def asgSql(cCte: String, base: String = "embeddings"): String =
    s"""SELECT vec_id, embedding, centroid_id FROM (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.ce")} DESC,
       |               c.centroid_id) AS rn
       |  FROM $base e, $cCte c) WHERE rn = 1""".stripMargin

  /** Centroid-recompute CTE body (mirrors one [[Similarity.kmeansTrain]]
    * step: per-dim mean rounded to 6 places, reassembled as a list).
    */
  def cMeanSql(asgCte: String): String =
    s"""SELECT centroid_id, list(av ORDER BY i) AS ce FROM (
       |  SELECT centroid_id, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS av
       |  FROM $asgCte, unnest(range(1, len(embedding)+1)) t(i)
       |  GROUP BY 1, 2) GROUP BY 1""".stripMargin

  /** Shared shingle/minhash CTE prefix (word 3-grams, 16 hashes) —
    * replays [[Dedup.minhashSketch]]'s universal-hash family exactly: one
    * md5 per distinct gram, first 15 hex digits as a 60-bit integer
    * (polynomial over per-digit strpos values — DuckDB has no hex->int
    * conv), then `(a_j * hm + b_j) mod p` with the seeds spliced from
    * [[Dedup.MinhashSeeds]] so the two engines can never drift.
    */
  def minhashCtes(base: String): String = {
    val p = graft.ops.Dedup.MinhashPrime
    val seedRows = graft.ops.Dedup.MinhashSeeds.take(16).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    val hexPoly = (1 to 15).map { i =>
      val pow = 1L << (4 * (15 - i))
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $pow"
    }.mkString(" +\n              ")
    s"""w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM $base),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
       |       FROM w, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
       |shm AS (SELECT doc_id,
       |          ($hexPoly) % $p AS hm
       |        FROM (SELECT doc_id, md5(s) AS h FROM sh)),
       |seeds(j, a, b) AS (VALUES $seedRows),
       |mh AS (SELECT doc_id, j, min((a * hm + b) % $p) AS m
       |       FROM shm, seeds GROUP BY 1, 2),
       |bands AS (SELECT doc_id, j // 4 AS band,
       |            string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS sig
       |          FROM mh GROUP BY doc_id, j // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |         ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  }

  val MinhashCtes: String = minhashCtes("documents")

  /** SQL twin of [[graft.ops.QualityModel.grid6]]: floor(x*1e6+0.5)/1e6
    * — pure IEEE, bit-identical across engines (round(x, 6) goes through
    * decimal rendering and disagrees on the exact .5 half-points GD's
    * rational arithmetic produces).
    */
  def grid6Sql(x: String): String =
    s"(floor(($x) * 1000000.0 + 0.5) / 1000000.0)"

  /** Unigram gram-row source — the default (dim 64) sketch's features. */
  val QclfGrams1: String =
    """SELECT doc_id, source,
      |                unnest(string_split(lower(text), ' ')) AS w
      |              FROM documents""".stripMargin

  /** Unrolled fixed-iteration GD for the hashed logistic-regression
    * quality classifier ([[graft.ops.QualityModel.trainHashedLogReg]]):
    * every per-iteration quantity rounds to the 6-place grid exactly as
    * the Spark side does, so weights land bit-identical. dim = 64,
    * lr = 0.5, positives = the curated source set.
    */
  def qclfCtes(iters: Int, dim: Int = 64,
               gramSql: String = QclfGrams1): String = {
    val feat = s"${hexToLongSql("md5(w)", 1, 8)} % $dim"
    val base =
      s"""sk0 AS (SELECT DISTINCT doc_id,
         |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3', 'src4')
         |         THEN 1 ELSE 0 END AS y,
         |    $feat AS feature
         |  FROM ($gramSql)),
         |sk AS (SELECT * FROM sk0
         |       UNION ALL
         |       SELECT DISTINCT doc_id, y, -1 AS feature FROM sk0),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM sk),
         |g1 AS (SELECT feature,
         |         ${grid6Sql("sum(0.5 - y) / (SELECT n FROM nd)")} AS g
         |       FROM sk GROUP BY 1),
         |w1 AS (SELECT feature, ${grid6Sql("0.0 - 0.5 * g")} AS w FROM g1)""".stripMargin
    val rest = (2 to iters).map { i =>
      s""",
         |d$i AS (SELECT sk.doc_id, sk.y,
         |         ${grid6Sql(s"sum(coalesce(w${i - 1}.w, 0.0))")} AS dot
         |       FROM sk LEFT JOIN w${i - 1} USING (feature) GROUP BY 1, 2),
         |p$i AS (SELECT doc_id, ${grid6Sql("1.0 / (1.0 + exp(-dot))")} AS p
         |       FROM d$i),
         |g$i AS (SELECT sk.feature,
         |         ${grid6Sql(s"sum(p$i.p - sk.y) / (SELECT n FROM nd)")} AS g
         |       FROM sk JOIN p$i USING (doc_id) GROUP BY 1),
         |w$i AS (SELECT feature,
         |         ${grid6Sql(s"coalesce(w${i - 1}.w, 0.0) - 0.5 * coalesce(g$i.g, 0.0)")}
         |           AS w
         |       FROM w${i - 1} FULL OUTER JOIN g$i USING (feature))""".stripMargin
    }.mkString
    base + rest
  }

  /** [[minhashCtes]] extended with exact-Jaccard verification (`ver` =
    * pairs at or above the 0.5 threshold, raw jaccard in `jac`) — shared
    * by the fuzzy pair, cluster-resolution, and kept-corpus oracles.
    */
  def fuzzyCtes(base: String): String =
    s"""${minhashCtes(base)},
       |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
       |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |       FROM cand c
       |       JOIN sh x ON x.doc_id = c.doc_a
       |       JOIN sh y ON y.doc_id = c.doc_b AND x.s = y.s
       |       GROUP BY 1, 2),
       |ver AS (SELECT doc_a, doc_b,
       |          CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac
       |        FROM iv JOIN sz sa ON doc_a = sa.doc_id
       |                JOIN sz sb ON doc_b = sb.doc_id
       |        WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.5)""".stripMargin

  val FuzzyCtes: String = fuzzyCtes("documents")

  /** Min-label connected components over a (doc_a, doc_b) pair CTE
    * (recursive reachability walk — every node's cluster label is the
    * minimum id it can reach over symmetric edges), mirroring
    * [[Dedup.resolveClusters]]'s fixed point. Splice after WITH RECURSIVE.
    */
  def clusterWalkCtes(pairCte: String): String =
    s"""edges AS (SELECT doc_a AS src, doc_b AS dst FROM $pairCte
       |          UNION SELECT doc_b, doc_a FROM $pairCte),
       |walk(node, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
       |cc AS (SELECT node, min(reach) AS keeper FROM walk GROUP BY 1)""".stripMargin

  val ClusterCtes: String =
    s"""$FuzzyCtes,
       |${clusterWalkCtes("ver")}""".stripMargin

  /** Subquery applying the six content-agnostic Gopher rules (stopword
    * rule excluded) to `base` — the SQL face of
    * [[graft.ops.TextAnalysis.gopherFilter]](requireStopWords = false),
    * same 6-rounded comparisons as the `text_gopher_rules` oracle.
    */
  def gopherGateSql(base: String,
                    requireStopWords: Boolean = false): String = {
    val stopRule =
      if (!requireStopWords) ""
      else "\n   AND (" + graft.ops.TextAnalysis.GopherStopWords.map(sw =>
        s"(CASE WHEN list_contains(__ws, '$sw') THEN 1 ELSE 0 END)")
        .mkString(" +\n        ") + ") >= 2"
    s"""(SELECT * EXCLUDE (__lt, __ws, __ls) FROM (
       |   SELECT b.*, lower(text) AS __lt,
       |          string_split(lower(text), ' ') AS __ws,
       |          string_split(text, chr(10)) AS __ls
       |   FROM $base b)
       | WHERE len(__ws) >= 50 AND len(__ws) <= 100000
       |   AND round(CAST(len(replace(__lt, ' ', '')) AS DOUBLE)
       |         / len(__ws), 6) >= 3.0
       |   AND round(CAST(len(replace(__lt, ' ', '')) AS DOUBLE)
       |         / len(__ws), 6) <= 10.0
       |   AND round(CAST((len(__lt) - len(replace(__lt, '#', ''))) +
       |         (len(__lt) - len(replace(__lt, '…', ''))) AS DOUBLE)
       |         / len(__ws), 6) <= 0.1
       |   AND round(CAST(len(list_filter(__ls, l ->
       |         starts_with(l, '- ') OR starts_with(l, '* ') OR
       |         starts_with(l, '• '))) AS DOUBLE) / len(__ls), 6) <= 0.9
       |   AND round(CAST(len(list_filter(__ls, l ->
       |         ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
       |         / len(__ls), 6) <= 0.3
       |   AND round(CAST(len(list_filter(__ws, w ->
       |         regexp_matches(w, '[a-z]'))) AS DOUBLE)
       |         / len(__ws), 6) >= 0.8$stopRule)""".stripMargin
  }

  /** Shared quality-tier CTE chain (terminal relation
    * `tiers(doc_id, quality_score, tier)`), mirroring
    * [[TextAnalysis.qualityTiers]] — reused by the tier query itself and
    * the curriculum schedule built on top of it.
    */
  def qualityTiersSql(finalSelect: String): String = {
    val en = sqlList(StopEn)
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
       |           FROM documents),
       |x AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS nt,
       |        CAST(len(list_filter(ws, w -> list_contains($en, w)))
       |          AS DOUBLE) AS hits
       |      FROM t),
       |s AS (SELECT doc_id,
       |        round(least(nt / 100, CAST(1 AS DOUBLE)) *
       |              (1 - abs(hits / nt - 0.4)), 6) AS quality_score
       |      FROM x),
       |c AS (SELECT round(quantile_cont(quality_score, 0.25), 6) AS t1,
       |             round(quantile_cont(quality_score, 0.5), 6) AS t2,
       |             round(quantile_cont(quality_score, 0.75), 6) AS t3
       |      FROM s),
       |tiers AS (SELECT doc_id, quality_score,
       |  CAST(CASE WHEN quality_score <= t1 THEN 1
       |            WHEN quality_score <= t2 THEN 2
       |            WHEN quality_score <= t3 THEN 3 ELSE 4 END AS INT) AS tier
       |  FROM s, c)
       |$finalSelect""".stripMargin
  }

  /** [[quoteTokens]] over the RAW documents corpus — the quote leg of
    * the release chain (`llm_corpus_prep_quotes`) and the LSH-candidate
    * containment verify (`dedup_containment`) derive from the same
    * shingle explode; index-grade, built once per session (r18). */
  def docTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.documents(s, dir)
    BuildMemo.df(s, dir, "docTokens") {
      Dedup.containmentTokens(d, "doc_id")
    }
  }

  /** [[quoteDocTokens]] over the RAW documents corpus. */
  def docDocTokens(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tks = docTokens(s, dir)
    BuildMemo.df(s, dir, "docDocTokens") {
      Dedup.containmentDocTokens(tks)
    }
  }

  /** 32-bit integer from `n` hex digits of `hexExpr` starting at 1-based
    * `start` — the per-digit strpos polynomial (DuckDB has no hex->int
    * conv), shared by [[SimhashCtes]] and [[HashBucketSql]].
    */
  def hexToLongSql(hexExpr: String, start: Int, n: Int): String = {
    val terms = (0 until n).map { j =>
      val pow = 1L << (4 * (n - 1 - j))
      s"(strpos('0123456789abcdef', substr($hexExpr, ${start + j}, 1)) - 1) * $pow"
    }.mkString(" +\n              ")
    s"($terms)"
  }

  /** Shared per-document BPE token-count CTE chain (terminal relation
    * `docbpe(doc_id, n_bpe_tokens)`), mirroring
    * [[graft.functions.BpeTokenCount]] exactly: the merge table is
    * GENERATED from the same Scala constant the expression compiles in
    * ([[graft.functions.BpeUtil.mergesValuesSql]]), and one recursion
    * step applies one `replace()` pass of the current-rank merge —
    * DuckDB's literal left-to-right non-overlapping `replace` is the
    * same operation as Java's `String.replace`, so the fixpoint-per-rank
    * walk lands on identical symbol counts. Tokenization runs over
    * DISTINCT words (vocabulary-sized recursion) and joins back to word
    * instances. Caller must open with `WITH RECURSIVE`.
    */
  def bpeDocTokensCte: String = {
    val k = graft.functions.BpeUtil.DefaultMerges.size
    s"""merges(rank, pat, rep) AS (VALUES ${graft.functions.BpeUtil.mergesValuesSql()}),
       |words AS (SELECT DISTINCT w FROM (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents) q),
       |enc0 AS (SELECT w, ';' || regexp_replace(w, '(.)', '\\1;', 'g') AS e
       |         FROM words),
       |rec AS (
       |  SELECT w, e, 1 AS r FROM enc0
       |  UNION ALL
       |  SELECT w, CASE WHEN rp <> e THEN rp ELSE e END AS e,
       |         CASE WHEN rp <> e THEN r ELSE r + 1 END AS r
       |  FROM (SELECT rec.w AS w, rec.e AS e, rec.r AS r,
       |               replace(rec.e, m.pat, m.rep) AS rp
       |        FROM rec JOIN merges m ON m.rank = rec.r) s),
       |wtok AS (SELECT w, CAST(length(e) - length(replace(e, ';', '')) - 1
       |                   AS INT) AS n_sub
       |         FROM rec WHERE r = ${k + 1}),
       |docw AS (SELECT doc_id,
       |           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |         FROM documents),
       |wsum AS (SELECT d.doc_id, sum(t.n_sub) AS n_word_sub
       |         FROM docw d JOIN wtok t ON d.w = t.w GROUP BY d.doc_id),
       |docbpe AS (SELECT dd.doc_id,
       |             CAST(coalesce(ws.n_word_sub, 0) +
       |               length(regexp_replace(lower(dd.text),
       |                 '[a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS INT)
       |               AS n_bpe_tokens
       |           FROM documents dd
       |           LEFT JOIN wsum ws ON dd.doc_id = ws.doc_id)""".stripMargin
  }

  /** The full IVF-PQ pipeline CTEs (PQ codebooks, codes, coarse cells,
    * probes, query LUTs, candidate ADC sums in `sc`) — shared by the
    * serving and recall oracles.
    */
  def seedPqCbDef(name: String): String =
    s"""$name AS (SELECT s.sub, e.vec_id AS code,
       |              e.embedding[s.sub*16+1 : s.sub*16+16] AS ce
       |       FROM embeddings e, subs s WHERE e.vec_id % 50 = 0)""".stripMargin

  /** Unrolled per-subspace Lloyd chain (assignment = argmin 6-rounded
    * squared L2 within the subspace, update = per-dim mean on the 1e-6
    * grid) from the seed book `pcb0` to `pcb<iters>` — the SQL twin of
    * [[Similarity.pqCodebookLearned]].
    */
  def pqLearnedCbDef(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s""",
         |pa$i AS (SELECT vec_id, sub, xe, code FROM (
         |   SELECT x.vec_id, x.sub, x.xe, c.code,
         |     row_number() OVER (PARTITION BY x.vec_id, x.sub
         |       ORDER BY round(${dotSql("x.xe", "x.xe")}
         |           - 2.0 * ${dotSql("x.xe", "c.ce")}
         |           + ${dotSql("c.ce", "c.ce")}, 6), c.code) AS rn
         |   FROM xs x JOIN pcb${i - 1} c ON x.sub = c.sub) WHERE rn = 1),
         |pcb$i AS (SELECT sub, code, list(av ORDER BY i) AS ce FROM (
         |   SELECT sub, code, i, round(avg(CAST(xe[i] AS DOUBLE)), 6) AS av
         |   FROM pa$i, unnest(range(1, len(xe)+1)) t(i)
         |   GROUP BY 1, 2, 3) GROUP BY 1, 2)""".stripMargin
    }.mkString
    seedPqCbDef("pcb0") + chain
  }

  /** md5-derived bucket 0-99 of doc_id (mirrors [[Dedup.hashBucket]]):
    * first 8 hex digits of md5 as a 32-bit int, a polynomial over
    * per-digit strpos values (DuckDB has no hex->int conv), mod 100.
    */
  val HashBucketSql: String = {
    val terms = (1 to 8).map { i =>
      val pow = 1L << (4 * (8 - i))
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * $pow"
    }.mkString(" +\n           ")
    s"CAST($terms AS BIGINT) % 100"
  }

  /** Shared int8-quantization CTE prefix (mirrors [[Similarity.quantize]]:
    * scale = 127/max|x| with the zero-vector guard, elements half-up
    * rounded via explicit floor(+0.5) — one shared rule, since round()
    * semantics differ across engines on exact halves — and clamped to
    * [-127, 127]).
    */
  val Q8Ctes: String =
    """qs AS (SELECT vec_id, embedding,
      |         CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS sc
      |       FROM (SELECT vec_id, embedding,
      |               list_aggregate(list_transform(embedding,
      |                 x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
      |             FROM embeddings)),
      |qv AS (SELECT vec_id, sc, list_transform(embedding,
      |         x -> CAST(least(greatest(floor(CAST(x AS DOUBLE) * sc + 0.5),
      |                                  -127), 127) AS BIGINT)) AS q
      |       FROM qs)""".stripMargin

  /** Curation-filter CTE chain over an arbitrary base relation (mirrors
    * [[TextAnalysis.curationFilter]]); pair with [[CurationSelect]].
    */
  def curationCtes(base: String, wsMode: Boolean = false): String = {
    val en = sqlList(StopEn)
    val scoreCols = TextAnalysis.LangPriority.map { l =>
      s"CAST(len(list_filter(ws, w -> list_contains(" +
        s"${sqlList(TextAnalysis.Stopwords(l))}, w))) AS INT) AS s_$l"
    }.mkString(",\n  ")
    val tok =
      if (wsMode)
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"
      else "string_split(lower(text), ' ')"
    s"""ct AS (SELECT doc_id, $tok AS ws
       |       FROM $base),
       |cx AS (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS nt,
       |        CAST(len(list_filter(ws, w -> list_contains($en, w))) AS DOUBLE) AS hits,
       |  $scoreCols
       |      FROM ct WHERE len(ws) >= 3),
       |cg AS (SELECT doc_id,
       |        round(1.0 - CAST(count(DISTINCT gm) AS DOUBLE) / count(*), 6)
       |          AS rep_ratio
       |      FROM (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gm
       |            FROM ct, unnest(range(1, greatest(len(ws)-2, 0)+1)) u(i))
       |      GROUP BY 1),
       |cs AS (SELECT cx.doc_id, CAST(nt AS INT) AS n_tokens,
       |        round(least(nt / 100, CAST(1 AS DOUBLE)) *
       |              (1 - abs(hits / nt - 0.4)), 6) AS quality_score,
       |        cg.rep_ratio,
       |        ${argmaxSql("s_")} AS predicted_lang
       |      FROM cx JOIN cg USING (doc_id))""".stripMargin
  }

  val CurationSelect: String =
    """SELECT doc_id, n_tokens, quality_score, rep_ratio, predicted_lang
      |FROM cs
      |WHERE n_tokens BETWEEN 20 AND 2000 AND quality_score >= 0.1
      |  AND rep_ratio <= 0.2 AND predicted_lang = 'en'""".stripMargin

  /** (doc_id, gram `s`) rows over `base` — DISTINCT word n-grams per
    * document, mirroring [[Dedup.shingleRows]] (gram = n tokens joined by
    * a single space; documents shorter than n tokens produce none).
    */
  def ngramRowsSql(base: String, n: Int): String =
    s"""SELECT DISTINCT doc_id, array_to_string(ws[i:i+${n - 1}], ' ') AS s
       |FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM $base),
       |     unnest(range(1, greatest(len(ws)-${n - 1}, 0)+1)) t(i)""".stripMargin

  /** The deterministic %50 seed coarse codebook (sized for the fixtures). */
  def seedCb(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")

  /** Build-once memo for the seed-codebook IVF assignment — the stored
    * flat IVF index shared by `sim_ivf_topk`, `sim_ivf_recall` and
    * `sim_ivf_filtered_recall` (all three serve from the SAME cell
    * assignment in production; re-deriving it per query re-scored the
    * corpus against the codebook three times).
    */
  def ivfAsgSeed(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "ivfAsgSeed") {
      Similarity.ivfAssign(Tables.embeddings(s, dir), seedCb(s, dir))
    }

  /** Build-once memo for the dim=64 hashed-bag-of-words feature sketch:
    * `text_qclf_weights`, `text_qclf_scores` and `llm_corpus_prep_full`
    * all train/score/gate from the IDENTICAL featurization of the raw
    * corpus, so the tokenize+hash pass runs once per (session, dir) —
    * the production shape (featurize once, reuse across the model
    * lifecycle).
    */
  def qclfSketch(s: org.apache.spark.sql.SparkSession,
                 dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "qclfSketch") {
      QualityModel.featureSketch(Tables.documents(s, dir), "doc_id", "text",
        when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1)
          .otherwise(0), dim = 64)
    }
}
