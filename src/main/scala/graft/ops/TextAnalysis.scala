package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token counting (whitespace +
  * regex), language identification (stopword-list heuristic), quality
  * scoring, and document fingerprinting (rolling char-n-gram hash).
  *
  * Every operator here is a pure per-row projection built from Catalyst
  * array/string expressions — map-only, whole-stage-codegen, zero
  * shuffles. At 100 TB these run at scan speed and their outputs (small
  * scalar sketches) are what downstream aggregations shuffle, never the
  * text itself.
  */
object TextAnalysis {

  /** Common stopword lists for the langid heuristic. A real deployment
    * loads bigger lexicons from files; the mechanism (per-language hit
    * counts over the token stream, argmax with deterministic priority)
    * is unchanged.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "auf", "ein", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "une", "des", "du"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "para", "una", "por", "con"))

  /** Tie-break priority order for both language-ID variants. Adding a
    * language = adding its profile AND its place here; every scorer,
    * argmax, and oracle generator derives from this single list.
    */
  val LangPriority: Seq[String] = Seq("en", "de", "fr", "es")

  /** Deterministic argmax over per-language score columns, in
    * [[LangPriority]] order (earlier languages win ties).
    */
  private def argmaxLang(scoreCol: String => Column): Column =
    LangPriority.zipWithIndex.init.foldLeft(when(lit(false), "")) {
      case (acc, (lang, i)) =>
        val beatsRest = LangPriority.drop(i + 1)
          .map(o => scoreCol(lang) >= scoreCol(o)).reduce(_ && _)
        acc.when(beatsRest, lang)
    }.otherwise(LangPriority.last)

  private def tokens(textCol: Column): Column = split(lower(textCol), " ")

  /** Stopword hit count for `lang` over the lowered text — the native
    * codegen [[graft.functions.StopwordHits]]. The HOF formulation
    * (`size(filter(ws, array_contains(...)))`) was CodegenFallback: one
    * occurrence in a predicate disabled whole-stage codegen AND
    * subexpression elimination for the whole operator, so multi-signal
    * filters re-evaluated `split(lower(text))` per reference.
    */
  private def hits(loweredText: Column, lang: String,
                   ws: Boolean = false): Column =
    call_function("graft_stopword_hits", loweredText,
      lit(Stopwords(lang).toArray), lit(ws))

  /** Token counts: whitespace tokens and BPE-ish regex tokens
    * (`[a-z0-9]+` runs), plus the recomputed char length.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(tokens(col(textCol))).as("n_ws_tokens"),
      size(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("n_re_tokens"),
      length(col(textCol)).as("n_chars_calc"))

  /** Subword (BPE) token count as an appended column — the accounting
    * basis real training-data budgets are stated in. Deterministic fixed
    * merge table (default [[graft.functions.BpeUtil.DefaultMerges]],
    * pluggable for a published merges file); semantics and oracle
    * mirroring documented on [[graft.functions.BpeUtil]]. Map-only
    * codegen — the corpus text is read once, nothing shuffles.
    */
  def withBpeTokens(df: DataFrame, textCol: String,
                    outCol: String = "n_bpe_tokens",
                    merges: Seq[(String, String)] =
                      graft.functions.BpeUtil.DefaultMerges): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val flat = merges.flatMap { case (x, y) => Seq(x, y) }
    df.withColumn(outCol,
      call_function("graft_bpe_tokens", lower(col(textCol)),
        typedLit(flat)))
  }

  /** Deterministic corpus-trained BPE merges — the "merges derived
    * reproducibly from the corpus" half of subword accounting (the fixed
    * public table is the other half; both feed [[withBpeTokens]]'s
    * `merges` parameter unchanged). Standard BPE training, distributed:
    *
    *   1. vocabulary = `[a-z0-9]+` word runs with corpus frequencies
    *      (ONE corpus-sized shuffle, then everything is vocab-sized);
    *   2. per round: adjacent symbol pairs exploded from the encoded
    *      vocabulary, frequency-weighted, counted; the winner under the
    *      TOTAL order (count desc, left asc, right asc — deterministic
    *      across partitionings and engines) becomes the next merge;
    *   3. the vocabulary re-encodes through the native
    *      `graft_bpe_merge` pass and the loop continues.
    *
    * Per round: one vocab-sized job + a ONE-ROW collect (driver-sized by
    * definition). Lineage is cut every 8 rounds (localCheckpoint), the
    * working vocab is persisted and swapped per round. `k` rounds = `k`
    * jobs — at 100 TB the corpus is touched ONCE; training iterates on
    * the vocabulary relation only.
    */
  def trainBpeMerges(df: DataFrame, textCol: String, k: Int): Seq[(String, String)] = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var vocab = Par.fanOut(df.select(col(textCol)))
      .select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // split BETWEEN chars only: Spark split keeps trailing empties
      // (limit -1), so the plain (?!^) would append a phantom "" symbol
      .select(col("freq"), split(col("w"), "(?!^)(?!$)").as("syms"))
      .persist(sl)
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    while (round < k) {
      val top = vocab
        .withColumn("l", expr("slice(syms, 1, size(syms) - 1)"))
        .withColumn("r", expr("slice(syms, 2, size(syms) - 1)"))
        .select(col("freq"), explode(arrays_zip(col("l"), col("r"))).as("p"))
        .groupBy(col("p.l").as("x"), col("p.r").as("y"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1).collect() // one row: driver-sized by definition
      if (top.isEmpty) { round = k }
      else {
        val (x, y) = (top(0).getString(0), top(0).getString(1))
        merges += ((x, y))
        val reEnc = vocab.withColumn("syms",
          call_function("graft_bpe_merge", col("syms"), lit(x), lit(y)))
        // localCheckpoint every 8 rounds cuts the k-deep lineage (it
        // materializes eagerly and stores the blocks itself — no extra
        // persist); other rounds persist + materialize explicitly
        val next =
          if ((round + 1) % 8 == 0) reEnc.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          else { val p = reEnc.persist(sl); p.count(); p }
        vocab.unpersist()
        vocab = next
        round += 1
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** Whitespace-robust token statistics — the tokenizer mode raw crawl
    * text needs. The single-space mode above is faithful to the fixtures
    * (and the reference), but real web text carries tabs, newlines, and
    * multi-space runs: there the native expressions' `ws` mode applies
    * `split('\\s+')` semantics — empty tokens dropped, grams joined with
    * a normalized single space. Emits the token count, English stopword
    * hits, and distinct word-3-gram count, all map-only codegen.
    */
  def tokenCountsWs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val lt = lower(col(textCol))
    df.select(col(idCol),
      size(call_function("graft_word_grams", lt, lit(1), lit(false), lit(true)))
        .as("n_tokens"),
      call_function("graft_stopword_hits", lt,
        lit(Stopwords("en").toArray), lit(true)).as("n_stop_en"),
      size(call_function("graft_word_grams", lt, lit(3), lit(true), lit(true)))
        .as("n_distinct_grams3"))
  }

  /** Language-ID heuristic: count stopword hits per language, predict the
    * argmax with deterministic priority en > de > fr > es on ties.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val lt = lower(col(textCol))
    df.select(col(idCol) +:
      LangPriority.map(l => hits(lt, l).as(s"s_$l")): _*)
      .withColumn("predicted_lang", argmaxLang(l => col(s"s_$l")))
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * alphanumeric-char ratio, and a composite score in [0, 1]
    * (length prior x stopword-naturalness). All ratios are doubles
    * rounded to 6 places for cross-engine determinism.
    */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val ws = tokens(col(textCol))
    val nTok = size(ws).cast("double")
    // sum of token lengths == chars minus separators (single-space split
    // partitions the string), so the interpreted aggregate/transform fold
    // reduces to one codegen'd replace — same integer, same oracle
    // (over lower(text) like the token array, since case mapping can
    // change length for some code points)
    val meanLen = length(replace(lower(col(textCol)), lit(" "), lit("")))
      .cast("double") / nTok
    val stopRatio = hits(lower(col(textCol)), "en").cast("double") / nTok
    val alnumRatio =
      length(regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""))
        .cast("double") / length(col(textCol)).cast("double")
    val score = least(nTok / lit(100.0), lit(1.0)) *
      (lit(1.0) - abs(stopRatio - lit(0.4)))
    df.select(col(idCol),
      size(ws).as("n_tokens"),
      round(meanLen, 6).as("mean_token_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(alnumRatio, 6).as("alnum_ratio"),
      round(score, 6).as("quality_score"))
  }

  /** The eight English "natural document" indicator words of the
    * Gopher rule set (a document passing the rule contains at least two
    * of them) — a public heuristic, deliberately tiny.
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule-based quality gate: the classical pre-training
    * heuristics (word-count window, mean-word-length window, symbol-to-
    * word ratio, bullet/ellipsis line fractions, alphabetic-word
    * fraction, indicator-stopword count), each emitted as a signal
    * column plus a 0/1 per-rule flag, with `pass` = conjunction. Keeps
    * documents that look like prose and drops listings, symbol soup,
    * and truncation artifacts — the cheap first gate before model-based
    * quality scoring ([[unigramLogProb]], [[quality]]).
    *
    * One map-only scan, no shuffle. The three line/word HOF fractions
    * are interpreted (CodegenFallback) — acceptable for a signals
    * operator; a native Expression is the upgrade path if this ever
    * sits in a hot loop. Thresholds are the published Gopher defaults;
    * flags are INT 0/1 (house convention for cross-engine hashing).
    */
  /** The Gopher signals and rule predicates over `textCol` (shared by
    * the report and filter faces): (signal name -> value, rule name ->
    * condition). Conditions compare the 6-rounded signal values so both
    * engines gate on identical grid points.
    */
  private def gopherSignals(textCol: String)
      : (Seq[(String, Column)], Seq[(String, Column)]) = {
    val lt = lower(col(textCol))
    val ws = tokens(col(textCol))
    val nW = size(ws)
    val meanLen = length(replace(lt, lit(" "), lit("")))
      .cast("double") / nW.cast("double")
    def charCount(c: String) =
      length(lt) - length(replace(lt, lit(c), lit("")))
    val symRatio = (charCount("#") + charCount("…")).cast("double") /
      nW.cast("double")
    val lines = split(col(textCol), "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac = size(filter(lines, l =>
      startswith(l, lit("- ")) || startswith(l, lit("* ")) ||
        startswith(l, lit("• ")))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l =>
      endswith(l, lit("...")) || endswith(l, lit("…"))))
      .cast("double") / nLines
    val alphaFrac = size(filter(ws, w => w.rlike("[a-z]")))
      .cast("double") / nW.cast("double")
    val nStop = GopherStopWords.map(sw =>
      when(array_contains(ws, sw), 1).otherwise(0)).reduce(_ + _)
    val signals = Seq(
      "n_words" -> nW,
      "mean_word_len" -> round(meanLen, 6),
      "symbol_ratio" -> round(symRatio, 6),
      "bullet_line_frac" -> round(bulletFrac, 6),
      "ellipsis_line_frac" -> round(ellipsisFrac, 6),
      "alpha_word_frac" -> round(alphaFrac, 6),
      "n_stop_words" -> nStop.cast("int"))
    val rules = Seq(
      "r_word_count" -> (nW >= 50 && nW <= 100000),
      "r_mean_word_len" -> (round(meanLen, 6) >= 3.0 &&
        round(meanLen, 6) <= 10.0),
      "r_symbol_ratio" -> (round(symRatio, 6) <= 0.1),
      "r_bullet_lines" -> (round(bulletFrac, 6) <= 0.9),
      "r_ellipsis_lines" -> (round(ellipsisFrac, 6) <= 0.3),
      "r_alpha_words" -> (round(alphaFrac, 6) >= 0.8),
      "r_stop_words" -> (nStop >= 2))
    (signals, rules)
  }

  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (signals, rules) = gopherSignals(textCol)
    def flag(c: Column) = when(c, 1).otherwise(0).cast("int")
    df.select(col(idCol) +:
      signals.map { case (n, c) => c.as(n) } ++:
      rules.map { case (n, c) => flag(c).as(n) } :+
      flag(rules.map(_._2).reduce(_ && _)).as("pass"): _*)
  }

  /** Document data-quality vet — the crawl-hygiene gate before ANY text
    * processing (the [[graft.ops.Similarity.vetEmbeddings]] analogue for
    * the text side): per document, the decode-level invariants the
    * quality/dedup operators assume — non-empty non-whitespace content,
    * zero U+FFFD replacement characters (the scar mojibake / broken
    * UTF-8 decoding leaves), zero C0/DEL control characters outside
    * tab/newline/CR (binary spill into a text column). A 100 TB crawl
    * always carries all three. Map-only single scan; counts via the
    * portable strip-and-measure idiom (remove everything NOT in the
    * class, measure what remains) so a SQL oracle replays it exactly.
    */
  def vetDocuments(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nControl = length(regexp_replace(t,
      "[^\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))
    val nReplacement = length(t) - length(regexp_replace(t, "\uFFFD", ""))
    df.select(col(idCol),
        length(t).as("n_chars"),
        // explicit class, not trim(): trim strips SPACES only, and the
        // class is stated identically in the SQL oracle (RE2 parity)
        (length(regexp_replace(t, "[ \\t\\n\\f\\r]", "")) === 0)
          .as("ws_only"),
        nReplacement.as("n_replacement"),
        nControl.as("n_control"))
      .withColumn("ok",
        col("n_chars") > 0 && !col("ws_only") &&
          col("n_replacement") === 0 && col("n_control") === 0)
  }

  /** The FILTER face of [[gopherRules]]: keep documents passing the rule
    * conjunction, original columns intact — one map-only predicate, no
    * join, composable into release chains. `requireStopWords = false`
    * drops the English indicator-word rule (synthetic or non-English
    * corpora, where it would reject everything).
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   requireStopWords: Boolean = true): DataFrame = {
    val (_, rules) = gopherSignals(textCol)
    val used =
      if (requireStopWords) rules
      else rules.filterNot(_._1 == "r_stop_words")
    df.filter(used.map(_._2).reduce(_ && _))
  }

  /** Characteristic character trigrams per language for the char-n-gram
    * language-ID variant (tiny profiles; production swaps in learned
    * top-k profiles — the scoring mechanism is unchanged).
    */
  val CharProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "ing", "and"),
    "de" -> Seq("der", "sch", "ein", "und"),
    "fr" -> Seq("les", "ent", "que", "des"),
    "es" -> Seq("los", "cio", "nte", "ado"))

  /** Char-n-gram language ID: per language, total occurrences of its
    * characteristic trigrams (counted via length-difference after
    * replace — Column functions, no SQL-string splicing, so grams with
    * quotes/metacharacters are safe), argmax with the same deterministic
    * priority as [[langId]]. Languages derive from [[CharProfiles]] keys
    * via [[LangPriority]] — extending the profiles extends the scorer.
    */
  def langIdCharNgrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lt = lower(col(textCol))
    def score(lang: String) = CharProfiles(lang).map { g =>
      ((length(lt) - length(replace(lt, lit(g), lit("")))) / g.length).cast("int")
    }.reduce(_ + _).cast("int")
    df.select(col(idCol) +:
      LangPriority.map(l => score(l).as(s"c_$l")): _*)
      .withColumn("predicted_lang", argmaxLang(l => col(s"c_$l")))
  }

  /** Corpus-level repeated-phrase detection (C4/RefinedWeb-style
    * boilerplate diagnostics): word k-grams appearing in at least
    * `minDocs` DISTINCT documents, with their document frequency. The
    * shuffle carries (gram, doc) pairs deduplicated per document
    * map-side; at 100 TB the gram hash, not the text, is what moves.
    */
  def commonNgrams(df: DataFrame, idCol: String, textCol: String,
                   k: Int, minDocs: Long): DataFrame =
    // per-document-DISTINCT grams map-side (array_distinct before the
    // explode), so document frequency is a plain count(*) — one partial+
    // final aggregate. The raw-gram + countDistinct(doc_id) formulation
    // shuffled every repeated gram occurrence AND paid Spark's two-phase
    // distinct-aggregate Expand; this emits each (doc, gram) once.
    Dedup.shingleRows(Par.fanOut(df.select(col(idCol), col(textCol))),
        idCol, textCol, k)
      .withColumnRenamed("s", "ngram")
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document duplicate n-gram coverage — the document-level
    * diagnostic on top of [[commonNgrams]]' corpus-level one (the
    * RefinedWeb/Dolma "dup fraction" audit, the practical stand-in for
    * suffix-array substring dedup): for each document, the share of its
    * DISTINCT word k-grams that occur in at least `minDocs` documents
    * corpus-wide. Near-1 coverage means the document is assembled from
    * text that exists elsewhere (template floods, mirrored articles)
    * even when no single whole-document near-dup pair fires.
    *
    * Shuffle shape: the corpus is scanned and shingled ONCE. Per-document-
    * distinct grams (each (doc, gram) emitted once map-side) shuffle by
    * gram; document frequency is a `count() over (partition by gram)`
    * window on that one shuffle — the same exchange that groups a gram's
    * occurrences serves both the frequency count and the per-occurrence
    * dup flag, so there is no second scan and no join back (the earlier
    * aggregate-then-join formulation re-read and re-shingled the corpus
    * on both sides of the join). The duplicated-gram set is never
    * collected or broadcast (at 100 TB it is itself corpus-scale, same
    * posture as [[lineDedup]]'s frequent-line anti-join). Documents with
    * < k words have no grams and drop out (same contract as
    * [[repetitionRatio]]).
    */
  def dupGramCoverage(df: DataFrame, idCol: String, textCol: String,
                      k: Int, minDocs: Long): DataFrame = {
    val grams = Dedup.shingleRows(
      Par.fanOut(df.select(col(idCol), col(textCol))), idCol, textCol, k)
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    grams.withColumn("n_docs", count(lit(1)).over(byGram))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= minDocs, 1).otherwise(0)).as("n_dup_grams"))
      .withColumn("dup_frac", round(
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 6))
      .withColumnRenamed("doc_id", idCol)
  }

  /** PII redaction: replace email-/phone-/URL-shaped substrings with typed
    * tags (map-only regex scrubbing; patterns kept RE2-compatible so the
    * DuckDB oracle replays them — production swaps in its full pattern
    * bank, the mechanism is unchanged).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" -> "<EMAIL>",
    "\\+?[0-9][0-9 -]{7,}[0-9]" -> "<PHONE>",
    "https?://[^ ]+" -> "<URL>")

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = PiiPatterns.foldLeft(lower(col(textCol))) {
      case (c, (pat, tag)) => regexp_replace(c, pat, tag)
    }
    df.select(col(idCol), redacted.as("redacted_text"))
  }

  /** Within-document repetition ratio (Gopher-style quality rule):
    * 1 - distinct/total word k-grams — high values flag boilerplate-heavy
    * or looping documents. Map-only per-row arrays.
    */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // native codegen gram generation (see [[graft.functions.WordGrams]]);
    // the HOF formulation re-evaluated an interpreted transform 3x per row
    val grams = call_function("graft_word_grams",
      lower(col(textCol)), lit(k), lit(false))
    val dgrams = call_function("graft_word_grams",
      lower(col(textCol)), lit(k), lit(true))
    df.filter(size(split(lower(col(textCol)), " ")) >= k)
      .select(col(idCol),
        size(grams).as("n_grams"),
        size(dgrams).as("n_distinct"),
        round(lit(1.0) - size(dgrams).cast("double") /
          size(grams).cast("double"), 6).as("rep_ratio"))
  }

  /** One-pass C4/Gopher-style curation filter: language, token-count
    * band, composite quality score and within-document repetition computed
    * in a SINGLE map-only projection over one scan (not a join of the
    * individual signal operators — at 100 TB the corpus is read once), and
    * the kept rows returned with their signals.
    *
    * Documents with fewer than `k` tokens have no k-grams and are dropped
    * (they cannot pass a sane `minTokens` anyway).
    */
  def curationFilter(df: DataFrame, idCol: String, textCol: String,
                     minTokens: Int, maxTokens: Int, minQuality: Double,
                     maxRepetition: Double, keepLang: String,
                     k: Int = 3, wsTokens: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val lt = lower(col(textCol))
    // wsTokens = the whitespace-robust mode for raw crawl text: every
    // signal (token count, stopword hits, k-grams) switches to
    // split('\s+') semantics via the native expressions' ws flag; on
    // single-space text the two modes agree (parity-spec'd)
    val nTokI =
      if (wsTokens)
        size(call_function("graft_word_grams", lt, lit(1), lit(false), lit(true)))
      else size(tokens(col(textCol)))
    val nTok = nTokI.cast("double")
    val stopRatio = hits(lt, "en", wsTokens).cast("double") / nTok
    val score = least(nTok / lit(100.0), lit(1.0)) *
      (lit(1.0) - abs(stopRatio - lit(0.4)))
    val grams = call_function("graft_word_grams", lt, lit(k), lit(false),
      lit(wsTokens))
    val dgrams = call_function("graft_word_grams", lt, lit(k), lit(true),
      lit(wsTokens))
    val rep = lit(1.0) - size(dgrams).cast("double") / size(grams).cast("double")
    df.filter(nTokI >= k)
      .select(col(idCol) +:
        LangPriority.map(l => hits(lt, l, wsTokens).as(s"s_$l")) :+
        nTokI.as("n_tokens") :+
        round(score, 6).as("quality_score") :+
        round(rep, 6).as("rep_ratio"): _*)
      .withColumn("predicted_lang", argmaxLang(l => col(s"s_$l")))
      .filter(col("n_tokens").between(minTokens, maxTokens) &&
        col("quality_score") >= minQuality &&
        col("rep_ratio") <= maxRepetition &&
        col("predicted_lang") === keepLang)
      .select(col(idCol), col("n_tokens"), col("quality_score"),
        col("rep_ratio"), col("predicted_lang"))
  }

  /** Sequence packing for pretraining prep: assign documents (in a
    * deterministic order) to fixed-capacity bins by cumulative length —
    * the running-total formulation (bin = floor(previous-cumsum /
    * capacity)). NOTE the global ordering makes this a single-partition
    * window; at 100 TB, partition by a shard key first and pack per shard
    * (bin ids then namespace by shard) — the per-shard computation is
    * exactly this function.
    */
  def packBins(df: DataFrame, idCol: String, lenCol: String,
               capacity: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol), col(lenCol))
      .withColumn("cum_before", coalesce(sum(col(lenCol)).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / capacity).cast("long"))
  }

  /** [[packBins]]'s 100 TB shape: pack PER SHARD (window partitioned by
    * `shardCol`, so every shard's running sum is an independent parallel
    * task) and namespace the bin id by shard. Bins never span shards —
    * exactly how a distributed pretraining-prep job lays out sequences.
    */
  def packBinsSharded(df: DataFrame, shardCol: String, idCol: String,
                      lenCol: String, capacity: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol), col(lenCol))
      .withColumn("cum_before", coalesce(sum(col(lenCol)).over(w), lit(0L)))
      .withColumn("bin", concat_ws(":", col(shardCol),
        floor(col("cum_before") / capacity).cast("long")))
  }

  /** Materialized sequence packing — [[packBinsSharded]] carried through
    * to the artifact a pretraining-prep job actually writes: per bin, the
    * member documents concatenated in deterministic order with an
    * end-of-sequence separator, plus the bin's document count and total
    * length. The window is partitioned by shard (independent parallel
    * runs); the per-bin collect is bounded by `capacity` PLUS one
    * document (binning is by preceding cumulative length, so the
    * document that crosses the bin line lands in that bin — a single
    * document longer than `capacity` overflows its bin by its own
    * length). Pre-split oversized documents before packing if a hard
    * per-bin bound is required.
    */
  def packSequences(df: DataFrame, shardCol: String, idCol: String,
                    textCol: String, lenCol: String, capacity: Long,
                    eos: String = " <eos> "): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol), col(textCol), col(lenCol))
      .withColumn("bin", concat_ws(":", col(shardCol),
        floor(coalesce(sum(col(lenCol)).over(w), lit(0L)) / capacity)
          .cast("long")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(lenCol)).as("bin_len"),
        array_join(
          transform(array_sort(collect_list(struct(col(idCol), col(textCol)))),
            x => x.getField(textCol)), eos).as("packed_text"))
  }

  /** Grouped distribution profile of a numeric column (here: document
    * lengths per language): exact percentiles (linear interpolation —
    * Spark `percentile`, not the approximate sketch, so results are
    * engine-reproducible), sample stddev, min/max. The corpus-profiling
    * aggregate a curation pipeline runs before setting quality cutoffs.
    */
  def lengthStats(df: DataFrame, groupCol: String, numCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(call_function("percentile", col(numCol), lit(0.5)), 6).as("median_len"),
        round(call_function("percentile", col(numCol), lit(0.9)), 6).as("p90_len"),
        round(stddev(col(numCol)), 6).as("sd_len"),
        min(col(numCol)).as("min_len"),
        max(col(numCol)).as("max_len"))

  /** [[lengthStats]]'s 100 TB face: the exact `percentile` aggregate is
    * SORT-BASED — it buffers every value of a group in one task's
    * memory, so a single big language group OOMs an executor at corpus
    * scale. This face swaps in Spark's `percentile_approx`
    * (Greenwald–Khanna `QuantileSummaries`: mergeable across partitions
    * — partial sketches combine map-side like any partial aggregate —
    * with state bounded by `accuracy`, not group size, and a
    * deterministic insert/compress path for a deterministic input
    * partitioning). Guarantee: the returned value is an actual group
    * element whose rank is within `n / accuracy` of the target rank.
    *
    * Keep the exact face for oracle parity at fixture scale; run THIS
    * face on real corpora. [[lengthStatsSketchAudit]] checks the rank
    * bound against the data itself.
    */
  def lengthStatsSketch(df: DataFrame, groupCol: String, numCol: String,
                        accuracy: Int = 1000): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        call_function("percentile_approx", col(numCol), lit(0.5),
          lit(accuracy)).as("p50_sketch"),
        call_function("percentile_approx", col(numCol), lit(0.9),
          lit(accuracy)).as("p90_sketch"),
        min(col(numCol)).as("min_len"),
        max(col(numCol)).as("max_len"))

  /** Self-audit of [[lengthStatsSketch]] against the GK rank guarantee,
    * computed from the data itself (no exact percentile anywhere — the
    * audit stays sketch-safe at scale): for each group and each target
    * percentile p, the sketch value must be an actual group element
    * (`count(< v) < count(<= v)`) whose rank interval covers the target
    * rank `ceil(p*n)` within `n/accuracy + 1` (the +1 absorbs the
    * 1-based-rank convention at tiny n). Emits one row per group with
    * the booleans — all-true is the contract; a broken sketch flips
    * them red in the oracle gate.
    *
    * Shape: the sketch relation is group-count-sized (broadcast back
    * onto the corpus); the rank counts are one more map-side partial
    * aggregate. Two corpus passes total.
    */
  def lengthStatsSketchAudit(df: DataFrame, groupCol: String,
                             numCol: String,
                             accuracy: Int = 1000): DataFrame = {
    val sk = lengthStatsSketch(df, groupCol, numCol, accuracy)
      .select(col(groupCol), col("n"), col("p50_sketch"), col("p90_sketch"))
    val j = df.select(col(groupCol), col(numCol))
      .join(broadcast(sk), Seq(groupCol))
    def cnt(v: Column, strict: Boolean) =
      sum(when(if (strict) col(numCol) < v else col(numCol) <= v, 1L)
        .otherwise(0L))
    val counted = j.groupBy(col(groupCol))
      .agg(first(col("n")).as("n"),
        cnt(col("p50_sketch"), strict = true).as("__lt50"),
        cnt(col("p50_sketch"), strict = false).as("__le50"),
        cnt(col("p90_sketch"), strict = true).as("__lt90"),
        cnt(col("p90_sketch"), strict = false).as("__le90"))
    def ok(p: Double, lt: Column, le: Column) = {
      val target = ceil(lit(p) * col("n"))
      val tol = col("n").cast("double") / accuracy + 1.0
      (le > lt) && target >= (lt + 1).cast("double") - tol &&
        target <= le.cast("double") + tol
    }
    counted.select(col(groupCol), col("n"),
      ok(0.5, col("__lt50"), col("__le50")).as("p50_rank_ok"),
      ok(0.9, col("__lt90"), col("__le90")).as("p90_rank_ok"))
  }

  /** Per-document top-k TF-IDF terms — the keyword/topic-feature
    * extraction a curation pipeline runs to profile domains and build
    * mixture weights. Smoothed idf = ln((N+1)/(df+1)) + 1, score =
    * tf * idf rounded to 6 places BEFORE ranking (so the ordering is
    * engine-reproducible), ties broken by term ascending.
    *
    * Scale posture: only the (doc, term, tf) sketch relation ever
    * shuffles — once by term (document frequency via window count, no
    * vocab collect, no join back), once by doc for the top-k window,
    * which Spark plans as WindowGroupLimit (per-partition partial top-k
    * before the exchange). The corpus text is read exactly once; N is a
    * one-row broadcast.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val proj = df.select(col(idCol), col(textCol))
    val tf = Par.fanOut(proj)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // N is counted on the UNSHUFFLED projection: partial counts map-side,
    // one row crosses the wire per partition (fanning out first would
    // round-robin every id through an exchange just to count them)
    val nDocs = proj.agg(count(lit(1)).as("n_docs"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.crossJoin(broadcast(nDocs))
      .withColumn("doc_freq", count(lit(1)).over(wTerm))
      .withColumn("score", round(col("tf").cast("double") *
        (log((col("n_docs").cast("double") + 1) /
          (col("doc_freq").cast("double") + 1)) + 1), 6))
      .withColumn("rnk", row_number().over(wDoc))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("doc_freq"),
        col("score"), col("rnk"))
  }

  /** BM25 retrieval: score every document against a fixed query-term set
    * (Robertson/Lucene BM25 with the +1-smoothed, always-positive idf)
    * and return the global top-k, rank included. The lexical-retrieval
    * primitive for building SFT/RAG candidate pools over a corpus.
    *
    * Scale posture: the corpus is read once; document length is computed
    * map-side on the un-exploded row, and only QUERY-TERM occurrences
    * survive the explode into the (doc, term) aggregate — the shuffle is
    * hit-sized, not token-stream-sized. Document frequency is a window
    * over the hit relation (query terms only — no vocabulary pass); the
    * two corpus scalars (N, total length for avgdl) ride a one-row
    * broadcast. The final top-k filter plans as WindowGroupLimit: each
    * partition forwards at most k rows to the rank exchange.
    *
    * Scores are rounded to the 6-place grid BEFORE ranking so both
    * engines rank identical doubles; ties break by document id.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val proj = df.select(col(idCol), col(textCol))
    val ws = tokens(col(textCol))
    // avgdl from exact integer sums (bit-identical across engines) —
    // never avg() over doubles, whose summation order is engine-defined
    val stats = proj.agg(count(lit(1)).as("n_docs"),
      sum(size(ws).cast("long")).as("len_total"))
    val hits = Par.fanOut(proj)
      .select(col(idCol), size(ws).as("doc_len"), explode(ws).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("doc_len")).as("doc_len"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val avgdl = col("len_total").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("doc_freq") + 0.5) /
      (col("doc_freq") + 0.5) + 1)
    val tfNorm = col("tf").cast("double") * (k1 + 1) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1 - b) + lit(b) * col("doc_len").cast("double") / avgdl))
    val scored = hits
      .withColumn("doc_freq", count(lit(1)).over(wTerm).cast("double"))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(sum(idf * tfNorm), 6).as("bm25"))
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
  }

  /** Reciprocal-rank fusion of ranked lists (the standard hybrid-
    * retrieval combiner: rrf = sum over lists of 1/(kRrf + rank)) —
    * merges heterogeneous rankers (BM25, embedding top-k, quality
    * re-ranking) without score calibration. Each input carries
    * (`idCol`, `rnkCol`); fused scores are rounded to the 6-place grid
    * BEFORE re-ranking, ties by id.
    *
    * Scale posture: a union + one aggregate over the candidate lists
    * (k-sized each, never corpus-sized) — the fusion itself is
    * candidate-bound no matter the corpus; the final top-k is a k-row
    * TakeOrderedAndProject. With two lists the fused sum is a single
    * IEEE addition (commutative), so cross-engine determinism needs no
    * association argument.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rnkCol: String,
              kRrf: Int, topK: Int): DataFrame = {
    val scored = rankings
      .map(_.select(col(idCol), col(rnkCol).cast("double").as("__r")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(round(sum(lit(1.0) / (lit(kRrf.toDouble) + col("__r"))), 6)
        .as("rrf"),
        count(lit(1)).cast("int").as("n_lists"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
  }

  /** Per-group PII exposure report — the audit a release publishes
    * alongside [[redactPii]]: for each group (source/domain), document
    * count, documents carrying any PII-shaped substring, and total match
    * counts per pattern family ([[PiiPatterns]]: email, phone, URL).
    * One map-only projection (three codegen'd regexp_counts over the
    * lowered text) into one partial-aggregated rollup — the corpus never
    * shuffles, only the per-group count rows do.
    */
  def piiStats(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val lt = lower(col(textCol))
    val Seq(em, ph, ur) = PiiPatterns.map { case (pat, _) =>
      coalesce(regexp_count(lt, lit(pat)), lit(0)) }
    df.select(col(groupCol), em.as("e"), ph.as("p"), ur.as("u"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("p") + col("u") > 0, 1).otherwise(0))
          .as("n_pii_docs"),
        sum(col("e")).as("n_emails"),
        sum(col("p")).as("n_phones"),
        sum(col("u")).as("n_urls"))
  }

  /** Benchmark-contamination report: corpus documents sharing at least one
    * word n-gram with the benchmark/eval set, with the count of distinct
    * overlapping grams (the evidence a decontamination audit records).
    *
    * Scale posture: the benchmark gram set is broadcast — eval suites are
    * MB-scale by definition while the corpus is the 100 TB side, so the
    * corpus is read once, grams stream map-side through the broadcast
    * hash join, and only matching (doc, gram) rows reach the aggregate.
    * No corpus shuffle at all until the (small) hit set.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int): DataFrame =
    contaminationReportIndexed(corpus,
      Dedup.shingleRows(benchmark, idCol, textCol, n).select(col("s")).distinct(),
      idCol, textCol, n)

  /** [[contaminationReport]] against a PRE-BUILT benchmark gram relation
    * (single column `s`) — the per-ingest face: a stored gram index is
    * read once and joined directly instead of re-shingling the benchmark
    * every batch (mirrors `incrementalLshCandidatesIndexed`). The index
    * may carry duplicate grams (append-grown tables do under
    * at-least-once delivery); they are collapsed here so overlap counts
    * stay exact.
    */
  def contaminationReportIndexed(corpus: DataFrame, benchGrams: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int): DataFrame =
    Dedup.shingleRows(Par.fanOut(corpus.select(col(idCol), col(textCol))),
        idCol, textCol, n)
      .join(broadcast(benchGrams.select(col("s")).distinct()), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))

  /** Benchmark decontamination: drop every corpus document sharing a word
    * n-gram with the benchmark set (the training-data hygiene step run
    * before any eval-aware release). The flagged-id set is contamination-
    * sized — tiny relative to the corpus — so the removal is a broadcast
    * anti-join; the corpus streams through unshuffled.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame =
    decontaminateIndexed(corpus,
      Dedup.shingleRows(benchmark, idCol, textCol, n).select(col("s")).distinct(),
      idCol, textCol, n)

  /** Remove a precomputed flagged-id set from a corpus (broadcast
    * anti-join). The composition face: when the corpus relation is itself
    * an expensive pipeline (e.g. a deduplicated keep-set), compute the
    * flags from the RAW corpus instead — flags are dedup-independent
    * (a doc shares a gram with the benchmark or it doesn't), the
    * anti-join intersects them with whatever subset `corpus` is, and the
    * expensive subtree is never executed inside the flag pass.
    */
  def removeFlagged(corpus: DataFrame, flagged: DataFrame,
                    idCol: String): DataFrame = {
    val f = flagged.select(col("doc_id")).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    corpus.join(broadcast(f), corpus(idCol) === f("doc_id"), "left_anti")
  }

  /** [[decontaminate]] against a pre-built benchmark gram relation — the
    * per-ingest / streaming face.
    */
  def decontaminateIndexed(corpus: DataFrame, benchGrams: DataFrame,
                           idCol: String, textCol: String, n: Int): DataFrame = {
    // The flagged set is materialized EAGERLY (it is contamination-sized,
    // i.e. tiny) before the anti-join broadcasts it. Leaving it lazy nests
    // the report's broadcast join inside the anti-join's broadcast build —
    // the build thread then re-executes the whole gram pass serially (the
    // same nested-broadcast pathology the fuzzy pipeline's eager sketch
    // materialization kills), which turned a two-scan operator superlinear
    // on the scale probe (37 s -> 11 s at 50 k docs, 192 s -> 19 s at 100 k).
    val flagged = contaminationReportIndexed(corpus, benchGrams, idCol,
        textCol, n)
      .select(col("doc_id")).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    corpus.join(broadcast(flagged), corpus(idCol) === flagged("doc_id"),
      "left_anti")
  }

  /** [[decontaminate]] with a BLOOM PREFILTER on the corpus gram stream —
    * same exact result, different scale posture. The exact path hash-joins
    * EVERY corpus gram against the broadcast benchmark-gram set; at 100 TB
    * that is ~10^12 probe rows carried into a join whose broadcast side is
    * benchmark-gram-sized (easily GBs for a large eval suite). Here a
    * fixed-size bit array (hundreds of KB, constant regardless of
    * benchmark size once sized) drops ~all non-overlapping grams INSIDE
    * the scan's codegen stage; only bloom survivors — true hits plus the
    * bounded false-positive residue — reach the confirming exact join, so
    * the join input shrinks from corpus-gram-sized to hit-sized. False
    * positives are killed by that exact join, false negatives are
    * impossible, hence: result == [[decontaminate]], bit for bit — the
    * oracle gates this query against the EXACT path's SQL.
    *
    * A saturated filter (undersized bits) silently stops filtering but
    * never breaks correctness; the fill ratio is reported loudly when it
    * passes 50% so the trade stays visible.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         numBits: Int = 0,
                         numHashes: Int = 5): DataFrame = {
    val benchGrams = Dedup.shingleRows(benchmark, idCol, textCol, n)
      .select(col("s")).distinct().localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // numBits <= 0 -> auto-size at ~10 bits/key (~1% FP with 5 hashes)
    // from the materialized gram count: an oversized filter is pure
    // constant overhead (its words array rides every task binary), an
    // undersized one saturates toward pass-through — both are a sizing
    // decision the engine can make itself here because the key count is
    // already on hand
    val bits =
      if (numBits > 0) numBits
      else {
        val want = 10L * math.max(benchGrams.count(), 1L)
        math.min(1L << 27, math.max(1L << 14,
          java.lang.Long.highestOneBit(want - 1) << 1)).toInt
      }
    val f = Bloom.build(benchGrams, col("s"), bits, numHashes)
    if (f.fillRatio > 0.5)
      System.err.println(f"[graft] decontaminateBloom: filter ${f.fillRatio * 100}%.1f%% " +
        "full — FP rate is degrading toward pass-through; raise numBits")
    val corpusGrams = Dedup.shingleRows(
      Par.fanOut(corpus.select(col(idCol), col(textCol))), idCol, textCol, n)
    val flagged = corpusGrams
      .filter(Bloom.mightContain(f, col("s")))
      .join(broadcast(benchGrams), "s")
      .select(col("doc_id")).distinct().localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    corpus.join(broadcast(flagged), corpus(idCol) === flagged("doc_id"),
      "left_anti")
  }

  /** FUZZY benchmark contamination: corpus documents that are NEAR-
    * duplicates of a benchmark document — banded-MinHash LSH candidates
    * verified by exact shingle Jaccard — catching the leakage exact
    * n-gram overlap misses (reformatted, lightly paraphrased, or
    * whitespace-mangled eval items). Returns one row per verified
    * (doc_id, bench_id, jaccard) pair at or above `threshold`; benchmark
    * members present in the corpus flag themselves (jaccard 1.0), the
    * same self-flagging contract as [[contaminationReport]].
    *
    * Scale posture: the batch-vs-index LSH shape — the benchmark band
    * relation is benchmark-sized (broadcast), the corpus band relation
    * is sketch-sized, and the corpus is NEVER self-joined; verification
    * shingles only documents that appear in a candidate pair, so its
    * cost is O(candidates) regardless of corpus size. `maxBucketSize`
    * > 0 arms the paired hot-bucket cap ([[Dedup.capBucketsPaired]]).
    */
  def fuzzyContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.5, k: Int = 3,
                         maxBucketSize: Int = 0): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bC = Dedup.bandIndex(corpus, idCol, numHashes, bands, textCol, k)
      .persist(sl)
    bC.count() // serial materialization — see Dedup.lshCandidatePairs
    val bB = Dedup.bandIndex(benchmark, idCol, numHashes, bands, textCol, k)
      .persist(sl)
    bB.count()
    val (pC, pB) = Dedup.capBucketsPaired(bC, bB, Seq("band", "sig"),
      maxBucketSize, "fuzzyContamination")
    // candidate-sized; lineage cut releases the band caches afterwards
    val cand = pC.as("a").join(broadcast(pB.as("b")),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("bench_id"))
      .distinct().localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    bC.unpersist(); bB.unpersist()

    // cross-relation Jaccard verification: corpus shingles restricted to
    // candidate docs; benchmark shingles are benchmark-sized (broadcast)
    val needC = corpus.join(cand.select(col("doc_id")).distinct(),
      corpus(idCol) === cand("doc_id"), "left_semi")
    val shC = Dedup.shingleRows(needC, idCol, textCol, k).persist(sl)
    shC.count()
    val shB = Dedup.shingleRows(benchmark, idCol, textCol, k)
      .select(col("doc_id").as("bench_id"), col("s")).persist(sl)
    shB.count()
    val szC = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("ca"))
    val szB = shB.groupBy(col("bench_id")).agg(count(lit(1)).as("cb"))
    val inter = cand.join(shC, Seq("doc_id"))
      .join(shB, Seq("bench_id", "s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("ca") + col("cb") - col("inter")).cast("double")
    inter.join(szC, Seq("doc_id")).join(broadcast(szB), Seq("bench_id"))
      .filter(jac >= threshold)
      .select(col("doc_id"), col("bench_id"), round(jac, 6).as("jaccard"))
  }

  /** [[decontaminate]]'s fuzzy counterpart: drop every corpus document
    * near-duplicating a benchmark item (including benchmark members
    * themselves — they self-flag at jaccard 1.0, mirroring the exact
    * face, whose members share their own grams). Flagged set is
    * contamination-sized → broadcast anti-join; corpus streams through
    * unshuffled.
    */
  def fuzzyDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.5, k: Int = 3,
                         maxBucketSize: Int = 0): DataFrame = {
    val flagged = fuzzyContamination(corpus, benchmark, idCol, textCol,
        numHashes, bands, threshold, k, maxBucketSize)
      .select(col("doc_id")).distinct().localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    corpus.join(broadcast(flagged), corpus(idCol) === flagged("doc_id"),
      "left_anti")
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * add-one-smoothed unigram LM — the distributed mechanism behind
    * perplexity filtering (production swaps the corpus-derived table for
    * a KenLM-style external model; the plumbing — a broadcast-or-shuffled
    * term table joined to the token stream — is unchanged). Low scores
    * flag gibberish/outlier documents, high scores flag boilerplate.
    *
    * Scale posture: corpus term counts come from a window over the
    * (doc, term, tf) sketch relation — no separate LM relation to join
    * back, no vocab collect (the same shape as [[tfidfTopK]]'s document
    * frequency); only sketch rows ever shuffle. The two model scalars
    * (total tokens, vocab size) are the one unavoidable second pass over
    * the token stream, riding a one-row broadcast — persisting the
    * sketch to skip that pass is the caller's call at a given scale.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def tf = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("n_vocab"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val logp = log((sum(col("tf")).over(wTerm).cast("double") + 1) /
      (col("n_total").cast("double") + col("n_vocab").cast("double")))
    tf.crossJoin(broadcast(totals))
      .withColumn("logp", logp)
      .groupBy(col(idCol))
      .agg(round(sum(col("tf").cast("double") * col("logp")) / sum(col("tf")), 6)
        .as("mean_logprob"),
        sum(col("tf")).as("n_tokens"))
  }

  /** Per-document mean INTERPOLATED-BIGRAM log-probability under the
    * corpus's own counts — the next LM rung above [[unigramLogProb]]
    * for perplexity filtering (catches word salad whose unigram
    * distribution looks natural but whose transitions don't):
    *
    *   lp(w_{i-1}, w_i) = ln( lambda * c(w_{i-1} w_i) / c(w_{i-1} ·)
    *                        + (1 - lambda) * (c(w_i) + 1) / (N + V) )
    *
    * i.e. MLE bigram interpolated with the add-one unigram (exactly
    * [[unigramLm]]'s smoothing), averaged over a document's n-1
    * transitions. Documents with fewer than two tokens drop out. The
    * context count c(w_{i-1} ·) counts bigram OCCURRENCES with that
    * context (a document-final token never serves as context), so the
    * bigram term is a proper conditional. Self-trained here; an
    * external-table face would join a prebuilt (prev, cur, logp)
    * relation exactly like [[unigramLogProbWith]].
    *
    * Scale posture: the (doc, prev, cur, ptf) transition sketch is
    * token-stream-sized and partial-aggregated map-side; bigram and
    * context totals ride windows over that sketch (no join-back), the
    * unigram table joins term-keyed (AQE broadcasts when it fits), and
    * the one-row (N, V) totals broadcast. No corpus-sized state beyond
    * the sketch shuffles.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.7): DataFrame = {
    val in = Par.fanOut(df.select(col(idCol), col(textCol)))
    val ws = tokens(col(textCol))
    val n = size(ws)
    // consecutive (prev, cur) transitions, map-only; sequence() would
    // run DESCENDING for single-token docs (start > stop), hence the guard
    val pairStructs = when(n >= 2,
      transform(sequence(lit(1), n - 1), i =>
        struct(element_at(ws, i).as("prev"),
          element_at(ws, i + 1).as("cur"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))
    val pairs = in.select(col(idCol), explode(pairStructs).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
      .groupBy(col(idCol), col("prev"), col("cur"))
      .agg(count(lit(1)).as("ptf"))
    val wBi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prev"), col("cur"))
    val wPv = org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))
    val uc = Par.fanOut(df.select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val totals = uc.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("n_vocab"))
    val pBi = sum(col("ptf")).over(wBi).cast("double") /
      sum(col("ptf")).over(wPv).cast("double")
    val pUni = (col("cnt") + 1).cast("double") /
      (col("n_total").cast("double") + col("n_vocab").cast("double"))
    pairs
      .withColumn("pbi", pBi)
      .join(uc.withColumnRenamed("term", "cur"), Seq("cur"))
      .crossJoin(broadcast(totals))
      .withColumn("lp", log(lit(lambda) * col("pbi") +
        lit(1 - lambda) * pUni))
      .groupBy(col(idCol))
      .agg(round(sum(col("ptf").cast("double") * col("lp")) /
        sum(col("ptf")), 6).as("mean_logprob"),
        sum(col("ptf")).as("n_bigrams"))
  }

  /** Corpus-derived add-one unigram LM AS DATA: the `(term, logp)`
    * relation plus the one-row OOV floor `ln(1 / (n_total + n_vocab))`
    * — exactly the smoothed probabilities [[unigramLogProb]] computes
    * inline. Materialize these once (e.g. per corpus snapshot) and feed
    * them to [[unigramLogProbWith]]; or substitute any externally
    * trained `(term, logp)` table (a KenLM-style unigram dump) with its
    * own floor — the scoring path cannot tell the difference.
    */
  def unigramLm(df: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val tf = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val totals = counts
      .agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("n_vocab"))
    val lm = counts.crossJoin(broadcast(totals))
      .select(col("term"),
        log((col("cnt").cast("double") + 1) /
          (col("n_total").cast("double") + col("n_vocab").cast("double")))
          .as("logp"))
    val oov = totals.select(
      log(lit(1.0) / (col("n_total").cast("double") +
        col("n_vocab").cast("double"))).as("oov_logp"))
    (lm, oov)
  }

  /** [[unigramLogProb]]'s EXTERNAL-MODEL face: score `df` under a
    * prebuilt `(term, logp)` table + one-row OOV floor instead of the
    * corpus's own counts — the production perplexity-filter shape, where
    * the LM is trained once (or shipped from outside) and corpora are
    * scored against it. Mechanically: the (doc, term, tf) sketch joins
    * the LM term-keyed — broadcast when the LM fits (AQE decides),
    * shuffled otherwise — and unseen terms fall back to the floor.
    * Fed [[unigramLm]]'s own output it reproduces [[unigramLogProb]]
    * bit-for-bit on the 6-place grid (spec-pinned).
    */
  def unigramLogProbWith(df: DataFrame, idCol: String, textCol: String,
                         lm: DataFrame, oov: DataFrame): DataFrame = {
    val tf = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.join(lm, Seq("term"), "left")
      .crossJoin(broadcast(oov))
      .withColumn("lp", coalesce(col("logp"), col("oov_logp")))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf").cast("double") * col("lp")) / sum(col("tf")), 6)
        .as("mean_logprob"),
        sum(col("tf")).as("n_tokens"))
  }

  /** Line-level deduplication across documents (the C4/RefinedWeb
    * boilerplate-removal rule, distinct from document-level dedup): drop
    * every line that occurs in at least `minDocs` DISTINCT documents
    * (navigation chrome, cookie banners, signatures), then reassemble
    * each document from its surviving lines in original order. Documents
    * whose every line is boilerplate disappear entirely.
    *
    * Scale posture: document frequency is computed from lines
    * deduplicated PER DOCUMENT map-side (`array_distinct` before the
    * explode, the [[commonNgrams]] trick), so the frequency pass
    * shuffles each (doc, line) once, partially aggregated — no separate
    * distinct exchange. The frequent set is output-small but NOT
    * guaranteed broadcastable at 100 TB, so removal stays a shuffled
    * anti-join (skew from a mega-frequent line lands on the aggregate's
    * partial side, not the join). Reassembly carries (doc, pos, line)
    * back through one doc-keyed aggregate; order is restored by sorting
    * the collected (pos, line) structs — deterministic regardless of
    * partitioning.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Long): DataFrame =
    lineDedupIndexed(df, lineDocCounts(df, textCol), idCol, textCol, minDocs)

  /** Per-doc-distinct line frequency relation (line, n_docs) — the state
    * [[lineDedupIndexed]] consumes and the streaming ingest persists.
    * Counts are PARTIAL-safe: a stored index may hold several rows per
    * line (append-grown across micro-batches); consumers re-aggregate by
    * summing, and since each document lands in exactly one batch the
    * summed partials equal the full-corpus distinct-doc count.
    */
  def lineDocCounts(df: DataFrame, textCol: String): DataFrame =
    Par.fanOut(df.select(col(textCol)))
      .select(explode(array_distinct(split(col(textCol), "\n"))).as("line"))
      .groupBy(col("line")).agg(count(lit(1)).as("n_docs"))

  /** [[lineDedup]] against a PRE-BUILT line-frequency relation — the
    * per-ingest / retrospective-republish face (mirrors
    * `decontaminateIndexed`): strip every line whose SUMMED count in
    * `lineCounts` reaches `minDocs`, reassemble the survivors in
    * original order. With a count relation covering exactly `df`, this
    * is the batch operator; with a cumulative ingest index it cleans a
    * new batch against the whole released corpus's line history.
    *
    * Scale posture: the frequent-line set is corpus-scale under heavy
    * boilerplate, so the removal is a SHUFFLED anti-join on the line —
    * never collected or broadcast — and the count re-aggregation
    * shuffles only (line, partial) rows, not text.
    */
  def lineDedupIndexed(df: DataFrame, lineCounts: DataFrame, idCol: String,
                       textCol: String, minDocs: Long): DataFrame = {
    val lines = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
    val frequent = lineCounts
      .groupBy(col("line")).agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("line"))
    lines.join(frequent, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
  }

  /** Exact-substring deduplication at document granularity (the
    * Lee et al. 2022 "Deduplicating Training Data…" / RefinedWeb
    * ExactSubstr family, re-expressed relationally): a document is
    * DROPPED when it shares at least one exact run of `w` consecutive
    * word tokens with an EARLIER (lower-id) document; kept rows pass
    * through with all columns. Any cross-document overlap of >= w tokens
    * contains at least one aligned w-token window, so "shares a
    * w-window" exactly characterizes ">= w-token overlap" — the
    * sliding-window relation answers the suffix-array substring query,
    * sharded by window hash instead of sorted globally (no suffix array
    * to build or hold; the classical w is 50, fixture queries use a
    * smaller w to bite on ~54-token documents).
    *
    * Scale posture: ONE corpus scan + shingle pass; the (doc, window)
    * relation shuffles by window, the per-window first owner comes off
    * the SAME exchange via a min() window function (no second scan, no
    * join back), and the flagged-id set — corpus-scale under heavy
    * duplication — is removed by a SHUFFLE anti-join on the id, never
    * collected or broadcast (same posture as [[lineDedup]]'s
    * frequent-line anti-join). FLOOD-SAFE by shape: a boilerplate
    * window shared by millions of documents costs its ROW count in the
    * min() aggregate, never its pair count — there is no bucket
    * self-join anywhere, so no hot-bucket cap is needed (unlike the
    * LSH families). Documents with < w tokens have no
    * windows and are always kept. Keep-first is pairwise (a doc is
    * kept iff no window it holds was first seen in a lower id), the
    * same convention as the fuzzy keep-first face.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     w: Int): DataFrame = {
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    // windows shuffle as fixed-width md5 keys, not raw ~w*6-char gram
    // strings — 4x less exchange volume at w=20, more at w=50 (probe:
    // 150 s -> linear at 100 k replicated docs); md5 so the oracle
    // replays the exact key (house convention, same as the MinHash seed)
    // Eager lineage cut before the anti-join (same fix, same reason as
    // [[decontaminateIndexed]]): left lazy, the whole gram+window subtree
    // re-plans nested inside the join — with InferFiltersFromGenerate
    // duplicating the gram generator into every scan branch — and the
    // probe went superlinear (161 s at 100 k replicated docs; 13 s for
    // the flag pass itself). The checkpoint is DISTRIBUTED (ids stay on
    // executors, nothing is collected or broadcast — flagged is
    // corpus-scale under heavy duplication), so the join below is a
    // plain shuffled anti-join on the id.
    val flagged = substringWindows(df, idCol, textCol, w)
      .withColumn("own", min(col("doc_id")).over(byGram))
      .filter(col("doc_id") =!= col("own"))
      .select(col("doc_id")).distinct()
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    df.join(flagged, df(idCol) === flagged("doc_id"), "left_anti")
  }

  /** The (doc_id, s) md5-keyed w-token-window relation — the shared
    * generator for [[substringDedup]] and the ingest index
    * ([[graft.streaming.SubstrDedupIngest]]).
    */
  def substringWindows(df: DataFrame, idCol: String, textCol: String,
                       w: Int): DataFrame =
    Dedup.shingleRows(
        Par.fanOut(df.select(col(idCol), col(textCol))), idCol, textCol, w)
      .select(col("doc_id"), md5(col("s")).as("s"))

  /** [[substringDedup]] for a NEW BATCH against a PRE-BUILT window index
    * (single column `s` of md5 window keys — every window of every doc
    * ever ingested, kept or dropped, because batch keep-first flags
    * against ALL lower-id docs, not just survivors). A batch doc drops
    * iff it shares a window with the index (some earlier-ingested doc)
    * or with a lower-id doc inside its own batch. With id-ordered
    * ingestion this equals the batch operator EXACTLY
    * (SubstrDedupIngestSpec pins it). Batch-vs-index shape: the corpus
    * index is read once and joined, never re-shingled — the same
    * contract as `decontaminateIndexed` / `incrementalLshCandidatesIndexed`.
    */
  def substringDedupIndexed(batch: DataFrame, windowIndex: DataFrame,
                            idCol: String, textCol: String,
                            w: Int): DataFrame = {
    val bw = substringWindows(batch, idCol, textCol, w)
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    val inBatch = bw
      .withColumn("own", min(col("doc_id")).over(byGram))
      .filter(col("doc_id") =!= col("own"))
      .select(col("doc_id"))
    // the index may carry duplicate keys (append-grown): collapsed here
    val vsIndex = bw
      .join(windowIndex.select(col("s")).distinct(), Seq("s"))
      .select(col("doc_id"))
    // eager lineage cut before the anti-join — see [[substringDedup]]
    val flagged = inBatch.unionByName(vsIndex).distinct()
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    batch.join(flagged, batch(idCol) === flagged("doc_id"), "left_anti")
  }

  /** [[substringDedupIndexed]] against an OWNER-CARRYING window index
    * (`(s, own)` — per window key, the minimum doc id ever seen holding
    * it). Where the key-set face can only say "some earlier-ingested doc
    * held this window" (first-ingested-wins), this face applies the
    * batch operator's actual rule — LOWEST ID wins — regardless of
    * ingestion order: a doc drops iff the global minimum owner of one of
    * its windows (the lesser of the index owner and the batch-internal
    * minimum) is a lower id. Over a corpus whose windows the index fully
    * covers (the republish pass over the raw ingest archive) this equals
    * [[substringDedup]] EXACTLY for ANY ingestion order
    * (SubstrDedupIngestSpec pins the shuffled-order case).
    *
    * Same scale shape as the key-set face: one batch shingle pass, one
    * shuffle join on the fixed-width key against the pre-aggregated
    * owner relation, eager lineage cut before the id anti-join.
    */
  def substringDedupIndexedOwners(batch: DataFrame, owners: DataFrame,
                                  idCol: String, textCol: String,
                                  w: Int): DataFrame = {
    val bw = substringWindows(batch, idCol, textCol, w)
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    val flagged = bw
      .join(owners.select(col("s"), col("own").cast("long").as("idx_own")),
        Seq("s"), "left")
      .withColumn("batch_own", min(col("doc_id")).over(byGram))
      .withColumn("gown",
        least(col("batch_own"), coalesce(col("idx_own"), col("batch_own"))))
      .filter(col("gown") < col("doc_id"))
      .select(col("doc_id")).distinct()
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    batch.join(flagged, batch(idCol) === flagged("doc_id"), "left_anti")
  }

  /** The audit face of [[substringDedup]]: per surviving-or-dropped
    * document, how many of its distinct w-windows are shared with a
    * lower-id document (`n_dup_windows`), its distinct window count, and
    * the drop verdict — the evidence row a curation release logs next to
    * the removal. Same single-shuffle shape as the dedup itself.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
                        w: Int): DataFrame = {
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
    substringWindows(df, idCol, textCol, w)
      .withColumn("own", min(col("doc_id")).over(byGram))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("doc_id") =!= col("own"), 1).otherwise(0))
          .as("n_dup_windows"))
      .withColumn("dropped", (col("n_dup_windows") > 0).cast("boolean"))
  }

  /** Corpus mixture accounting — the "data card" aggregate a training-
    * data release publishes: per-domain document and token counts with
    * their shares of the corpus. One partial-aggregated pass over the
    * corpus; the share window runs on the POST-aggregate relation, which
    * is domain-count-sized (tens of rows), so the single-partition window
    * is a non-issue at any corpus scale.
    */
  def mixtureStats(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    mixtureStatsWith(df, groupCol, size(tokens(col(textCol))))

  /** [[mixtureStats]] with a PLUGGABLE token-counter column — the
    * accounting basis (whitespace words, chars, BPE subwords via
    * [[withBpeTokens]]' output column) is the caller's one-line choice;
    * the aggregate shape is identical.
    */
  def mixtureStatsWith(df: DataFrame, groupCol: String, tokCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.select(col(groupCol), tokCol.as("n_tok"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / sum(col("n_tokens")).over(w), 6))
  }

  /** Log2-bucketed document-length histogram per group — the length
    * distribution a data card charts (uniform buckets are useless when
    * lengths span 10..10M chars). The bucket is `length(bin(n))` —
    * floor(log2(n)) + 1 computed EXACTLY via the binary string length,
    * never through libm log2 (whose last-ulp at exact powers of two
    * differs across engines and would flip a bucket edge). One
    * group-keyed aggregation of fixed-width rows.
    */
  def lengthHistogram(df: DataFrame, groupCol: String,
                      lenCol: String): DataFrame =
    df.filter(col(lenCol) > 0)
      .withColumn("bucket", length(bin(col(lenCol))).cast("int"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(lenCol)).as("min_len"), max(col(lenCol)).as("max_len"))

  /** Overlapping-window document chunking — the context-window prep
    * every RAG / long-document training pipeline runs: each document's
    * whitespace tokens split into windows of `chunkTokens` advancing by
    * `chunkTokens - overlap`, so consecutive chunks share `overlap`
    * tokens and no boundary sentence is lost. The last window starts
    * only while uncovered tokens remain
    * (`ceil(max(n - overlap, 1) / stride)` windows), so a short tail is
    * never emitted as a fully-redundant chunk. Deterministic: chunk
    * text is the token slice re-joined with single spaces.
    *
    * Map-only: tokenize, per-row window-count arithmetic, one explode —
    * output rows ≈ corpus tokens / stride, no shuffle at all; at 100 TB
    * this fuses into whatever scan feeds it.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    df.withColumn("__toks",
        filter(split(col(textCol), "\\s+"), t => t =!= ""))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("__k",
        ceil(greatest(col("__n") - overlap, lit(1)).cast("double") / stride)
          .cast("int"))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("__k") - 1)))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"),
          col("chunk_idx") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens), col("__n") - col("chunk_idx") * stride)
          .cast("int").as("n_tokens"))
  }

  /** Chunk-index capacity of [[chunkUid]]: 2^20 chunks per document
    * (~8.4 M tokens at stride 8) before the uid construction fails
    * LOUDLY instead of silently colliding with another document's uid
    * space.
    */
  val ChunkUidCapacity: Long = 1L << 20

  /** Collision-free chunk uid: `doc_id * 2^20 + chunk_idx`, with a loud
    * per-row failure (`raise_error`) if a document exceeds 2^20 chunks —
    * a `doc_id * 10000`-style packing would silently merge a long
    * document's chunks into a neighbouring document's uid space in any
    * downstream shard/pack accounting.
    */
  def chunkUid(docId: Column, chunkIdx: Column): Column =
    when(chunkIdx.cast("long") < lit(ChunkUidCapacity),
      docId.cast("long") * lit(ChunkUidCapacity) + chunkIdx.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"chunk_idx overflows chunkUid capacity $ChunkUidCapacity: "),
        chunkIdx.cast("string"))))

  /** Tokenizer fertility per group — subword tokens per whitespace word,
    * the number that decides how many TRAINING tokens a corpus slice
    * actually yields (and the classic per-language tokenizer-equity
    * metric: a high-fertility language pays more compute per word).
    * One corpus scan computing both counters map-side (the codegen'd
    * BPE encoder and the ws-mode gram counter), one group-keyed
    * aggregation of two longs. `fertility = n_bpe_tokens / n_ws_tokens`
    * rounded to the 6-place grid; null for a group with zero words.
    */
  def fertility(df: DataFrame, groupCol: String,
                textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val lt = lower(col(textCol))
    val counted = withBpeTokens(df, textCol)
      .withColumn("__ws", size(call_function("graft_word_grams", lt,
        lit(1), lit(false), lit(true))).cast("long"))
    counted.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens").cast("long")).as("n_bpe_tokens"),
        sum(col("__ws")).as("n_ws_tokens"))
      .withColumn("fertility",
        when(col("n_ws_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 6)))
  }

  /** Quality-quartile tiers — the curriculum/mixture bucketing primitive:
    * each document labeled 1-4 by which quartile of the corpus quality
    * distribution its score falls in. Cutoffs are EXACT percentiles
    * (engine-reproducible, unlike the approximate sketch) rounded to the
    * same 6-place grid as the scores, so tier boundaries can never drift
    * between engines. Two passes: the cutoff aggregate (state is bounded
    * by the distinct-score grid, ~1e6 entries worst case) broadcast as
    * one row into a map-only tier assignment.
    */
  def qualityTiers(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = quality(df, idCol, textCol)
      .select(col(idCol), col("quality_score"))
    def pctl(p: Double) =
      call_function("percentile", col("quality_score"), lit(p))
    val cuts = scored.agg(
      round(pctl(0.25), 6).as("t1"),
      round(pctl(0.5), 6).as("t2"),
      round(pctl(0.75), 6).as("t3"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col("quality_score"),
        when(col("quality_score") <= col("t1"), 1)
          .when(col("quality_score") <= col("t2"), 2)
          .when(col("quality_score") <= col("t3"), 3)
          .otherwise(4).as("tier"))
  }

  /** Document fingerprint: rolling char 8-gram hashes, summarized as the
    * minimum md5 (a bottom-1 sketch — equal fingerprints are a strong
    * near-dup signal) plus the distinct-gram cardinality. For texts
    * shorter than 8 chars the whole text is the single gram.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // native codegen one-pass fingerprint (md5 once per DISTINCT gram) —
    // the HOF formulation built the gram array twice (interpreted) and
    // md5'd every duplicate occurrence
    graft.functions.GraftFunctions.register(df.sparkSession)
    val fp = call_function("graft_char_fingerprint", col(textCol), lit(8))
    Par.fanOut(df.select(col(idCol), col(textCol))).select(col(idCol),
      fp.getField("fp_min_hash").as("fp_min_hash"),
      fp.getField("n_distinct_grams").as("n_distinct_grams"))
  }
}
