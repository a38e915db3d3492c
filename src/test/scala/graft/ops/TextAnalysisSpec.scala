package graft.ops

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "The quick brown fox and the lazy dog"),
    (2L, "der hund und die katze auf der strasse"),
    (3L, "abc"),
    (4L, "a b! c-d 42x")
  ).toDF("doc_id", "text")

  test("token counts: whitespace vs regex tokenization") {
    val out = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 8 && out(1L)._3 == 8)
    // "a b! c-d 42x": 4 ws tokens but 5 alnum runs (c-d splits)
    assert(out(4L)._2 == 4 && out(4L)._3 == 5)
    assert(out(3L)._4 == 3) // n_chars
  }

  test("langid scores stopword hits per language and argmaxes with priority") {
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .select("doc_id", "s_en", "s_de", "predicted_lang")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 3 && out(1L)._4 == "en") // the, and, the
    assert(out(2L)._3 == 5 && out(2L)._4 == "de") // der, und, die, auf, der
    assert(out(3L)._2 == 0 && out(3L)._4 == "en") // all-zero tie -> priority en
  }

  test("quality signals: ratios and bounded composite score") {
    val out = TextAnalysis.quality(docs, "doc_id", "text")
      .as[(Long, Int, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val d1 = out(1L)
    assert(d1._2 == 8)
    assert(math.abs(d1._3 - 29.0 / 8) < 1e-6) // mean token len (no spaces)
    assert(math.abs(d1._4 - 3.0 / 8) < 1e-6)  // the, and, the
    out.values.foreach { r =>
      assert(r._5 >= 0 && r._5 <= 1); assert(r._6 >= 0 && r._6 <= 1)
    }
  }

  test("PII redaction replaces emails, phones, and URLs with typed tags") {
    val d = Seq(
      (1L, "contact me at john.doe@example.com or +1 555-123-4567 ok"),
      (2L, "see https://example.com/page?q=1 for details"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(d, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "contact me at <EMAIL> or <PHONE> ok")
    assert(out(2L) == "see <URL> for details")
    assert(out(3L) == "nothing sensitive here")
  }

  test("repetition ratio: looping text scores high, varied text zero") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "each word appears exactly once here")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionRatio(d, "doc_id", "text", 3)
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 6 && out(1L)._3 == 1) // one distinct 3-gram
    assert(out(1L)._4 > 0.8)
    assert(out(2L)._4 == 0.0)
  }

  test("curation filter: single pass keeps in-band english docs with signals") {
    val corpus = Seq(
      // kept: english, 20-2000 tokens, low repetition
      (1L, ("the cat sat on a mat and the dog ran to the park with a ball " +
        "for fun in the sun all day")),
      // dropped: too few tokens
      (2L, "the quick brown fox"),
      // dropped: german
      (3L, ("der hund und die katze auf der strasse mit einem ball und " +
        "der sonne ist das leben auf dem land sehr schoen heute")),
      // dropped: extreme repetition
      (4L, Seq.fill(10)("the cat sat").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.curationFilter(corpus, "doc_id", "text",
      minTokens = 20, maxTokens = 2000, minQuality = 0.05,
      maxRepetition = 0.2, keepLang = "en")
      .as[(Long, Int, Double, Double, String)].collect()
    assert(out.map(_._1).toSeq == Seq(1L))
    val kept = out.head
    assert(kept._2 >= 20 && kept._5 == "en" && kept._4 <= 0.2)
  }

  test("bin packing: cumulative capacity assignment, deterministic order") {
    val d = Seq((1L, 3000L), (2L, 3000L), (3L, 3000L), (4L, 100L))
      .toDF("doc_id", "n_chars")
    val out = TextAnalysis.packBins(d, "doc_id", "n_chars", capacity = 4096)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0) // cum_before 0
    assert(out(2L) == 0) // cum_before 3000
    assert(out(3L) == 1) // cum_before 6000
    assert(out(4L) == 2) // cum_before 9000
  }

  test("fingerprint: identical text agrees; short text uses the whole-gram path") {
    val two = Seq((1L, "same content here"), (2L, "same content here"),
      (3L, "tiny")).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprint(two, "doc_id", "text")
      .as[(Long, String, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == out(2L)._2)
    assert(out(1L)._3 == out(2L)._3)
    assert(out(3L)._3 == 1) // < 8 chars: a single whole-text gram
  }

  test("ws-mode curation: same results on single-space text, rescues crawl text") {
    val fixture = graft.Tables.documents(spark, sf0001)
    def run(ws: Boolean, df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.curationFilter(df, "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en", wsTokens = ws)
        .collect().map(_.toSeq).toSet
    // on the single-space fixture the two modes must agree exactly
    assert(run(ws = false, fixture) == run(ws = true, fixture))
    // crawl-style text: 30 distinct english-ish tokens separated by a mix
    // of newlines, tabs, and spaces — ws mode sees 30 tokens and keeps
    // the doc; single-space mode sees ~10 glued tokens and drops it
    val words = Seq("the", "fox", "and", "dog", "of", "war", "is", "hill",
      "a", "tree", "to", "lake", "in", "town", "on", "road", "for", "home",
      "with", "barn", "cat", "bird", "horse", "goat", "sheep", "cow",
      "duck", "hen", "pig", "mouse")
    val gnarly = words.zipWithIndex.map { case (w, i) =>
      w + (i % 3 match { case 0 => "\n"; case 1 => " "; case _ => "\t" })
    }.mkString.trim
    val crawl = Seq((1L, gnarly)).toDF("doc_id", "text")
    val wsKept = run(ws = true, crawl)
    assert(wsKept.size == 1 && wsKept.head(1) == 30) // n_tokens
    assert(run(ws = false, crawl).isEmpty)
  }

  test("bm25 top-k: scores match an independent scalar re-implementation") {
    val d = Seq(
      (1L, "apple banana apple pear"),
      (2L, "banana kiwi"),
      (3L, "apple cherry plum grape melon lime fig date"),
      (4L, "nothing relevant here")).toDF("doc_id", "text")
    val query = Seq("apple", "banana")
    val out = TextAnalysis.bm25TopK(d, "doc_id", "text", query, k = 3)
      .as[(Long, Double, Int)].collect().sortBy(_._3)

    // scalar reference (plain Scala, same constants)
    val texts = Map(1L -> "apple banana apple pear", 2L -> "banana kiwi",
      3L -> "apple cherry plum grape melon lime fig date",
      4L -> "nothing relevant here")
    val lens = texts.view.mapValues(_.split(" ").length).toMap
    val n = texts.size.toDouble
    val avgdl = lens.values.sum.toDouble / n
    val df = query.map(t =>
      t -> texts.values.count(_.split(" ").contains(t)).toDouble).toMap
    def score(id: Long): Double = {
      val toks = texts(id).split(" ")
      val s = query.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1) *
          (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * lens(id) / avgdl)))
      }.sum
      math.rint(s * 1e6) / 1e6
    }
    // doc 4 has no query term: absent; 3 docs remain, ranked by score
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    out.foreach { case (id, bm25, _) =>
      assert(math.abs(bm25 - score(id)) < 1e-9, s"doc $id") }
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
    // k cuts: top-1 keeps only the best-scored doc
    val top1 = TextAnalysis.bm25TopK(d, "doc_id", "text", query, k = 1)
      .as[(Long, Double, Int)].collect()
    assert(top1.length == 1 && top1.head._1 == out.head._1)
  }

  test("packSequences materializes bins: ordered concat, capacity respected") {
    val d = Seq(
      ("s1", 1L, "aaaa", 4L), ("s1", 2L, "bbbb", 4L), ("s1", 3L, "cccc", 4L),
      ("s2", 4L, "dddd", 4L)).toDF("src", "doc_id", "text", "len")
    val out = TextAnalysis.packSequences(d, "src", "doc_id", "text", "len",
      capacity = 8).as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // s1: docs 1,2 fill bin 0 (cum_before 0,4); doc 3 starts bin 1
    assert(out("s1:0") == (("s1:0", 2L, 8L, "aaaa <eos> bbbb")))
    assert(out("s1:1") == (("s1:1", 1L, 4L, "cccc")))
    assert(out("s2:0") == (("s2:0", 1L, 4L, "dddd")))
  }

  test("rrfFuse: hand-computed fusion of two overlapping ranked lists") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rnk")
    val qual = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rnk")
    val out = TextAnalysis.rrfFuse(Seq(lex, qual), "doc_id", "rnk",
      kRrf = 60, topK = 10).as[(Long, Double, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 20 appears in both lists: 1/62 + 1/61
    assert(out(20L) == ((20L, r6(1.0 / 62 + 1.0 / 61), 2, 1)))
    assert(out(10L) == ((10L, r6(1.0 / 61), 1, 2)))
    assert(out(40L)._3 == 1 && out(30L)._3 == 1)
    // 1/62 > 1/63: doc 40 (rank 2) beats doc 30 (rank 3)
    assert(out(40L)._4 == 3 && out(30L)._4 == 4)
    // topK cuts
    assert(TextAnalysis.rrfFuse(Seq(lex, qual), "doc_id", "rnk", 60, 2)
      .count() == 2)
  }

  test("lineDedup strips frequent lines, keeps order, drops all-boilerplate docs") {
    val d = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\nunique beta"),
      (2L, "COOKIE BANNER\nunique gamma"),
      (3L, "unique delta\nCOOKIE BANNER"),
      (4L, "COOKIE BANNER")).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(d, "doc_id", "text", minDocs = 3)
      .as[(Long, String)].collect().map(r => r._1 -> r._2).toMap
    // the banner appears in 4 docs >= 3: stripped everywhere
    assert(out(1L) == "unique alpha\nunique beta") // order preserved
    assert(out(2L) == "unique gamma")
    assert(out(3L) == "unique delta")
    // doc 4 was pure boilerplate: gone entirely
    assert(!out.contains(4L) && out.size == 3)
    // below the threshold nothing is stripped
    val loose = TextAnalysis.lineDedup(d, "doc_id", "text", minDocs = 5)
      .as[(Long, String)].collect().map(r => r._1 -> r._2).toMap
    assert(loose(1L) == "unique alpha\nCOOKIE BANNER\nunique beta")
    assert(loose.size == 4)
  }

  test("unigramLogProbWith fed the corpus's own LM reproduces unigramLogProb") {
    val docs = graft.Tables.documents(spark, graft.SparkSpec.sf0001)
    val inline = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val (lm, oov) = TextAnalysis.unigramLm(docs, "doc_id", "text")
    val ext = TextAnalysis.unigramLogProbWith(docs, "doc_id", "text", lm, oov)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(ext === inline) // drop-in on the 6-place grid
  }

  test("unigramLogProbWith: OOV terms score at the add-one floor") {
    val train = Seq((1L, "aa aa bb")).toDF("doc_id", "text")
    val score = Seq((10L, "aa zz")).toDF("doc_id", "text")
    val (lm, oov) = TextAnalysis.unigramLm(train, "doc_id", "text")
    // n_total=3, n_vocab=2 -> p(aa)=(2+1)/5, p(zz unseen)=1/5
    val out = TextAnalysis.unigramLogProbWith(score, "doc_id", "text", lm, oov)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val expected = BigDecimal((math.log(3.0 / 5) + math.log(1.0 / 5)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq === Seq((10L, expected, 2L)))
  }

  test("bigramLogProb: hand-computed interpolated scores; short docs drop") {
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d, "doc_id", "text", lambda = 0.7)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // unigram LM over ALL tokens (incl. the transition-less doc 3):
    // uc a=3 b=1 c=1 solo=1, N=6 V=4; bigram contexts: a. = 3
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lpAA = math.log(0.7 * (1.0 / 3) + (1 - 0.7) * (4.0 / 10))
    val lpAB = math.log(0.7 * (1.0 / 3) + (1 - 0.7) * (2.0 / 10))
    val lpAC = lpAB // same counts as (a, b)
    assert(out(1L) == ((r6((lpAA + lpAB) / 2), 2L)))
    assert(out(2L) == ((r6(lpAC), 1L)))
    assert(!out.contains(3L)) // no transitions
  }

  test("vetDocuments: mojibake, control spill, empty and ws-only flagged") {
    val rows = Seq(
      (1L, "a clean little document"),
      (2L, ""),                                   // empty
      (3L, "   \t \n "),                          // whitespace-only
      (4L, "broken � decoding � here"), // replacement chars
      (5L, "binary\u0000spill\u0007here"),  // control chars (NUL, BEL)
      (6L, "tabs\tand\nnewlines are fine"))       // allowed whitespace
      .toDF("doc_id", "text")
    val vet = TextAnalysis.vetDocuments(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(3), r.getInt(4),
          r.getBoolean(5)))).toMap
    assert(vet(1L)._5 && vet(6L)._5)
    assert(vet(2L) == ((0, true, 0, 0, false)))
    assert(vet(3L)._2 && !vet(3L)._5)
    assert(vet(4L)._3 == 2 && !vet(4L)._5)
    assert(vet(5L)._4 == 2 && !vet(5L)._5)
  }

  test("gopherRules: prose passes, listings and symbol soup fail their rules") {
    val prose = (1 to 6).map(_ =>
      "the cat sat with the dog and they have gone to look at that bird")
      .mkString(" ") // 90 words, all rules satisfied
    val bullets = "- one\n- two\n- three\n- four"
    val symbols = "the of ## and ## with ## that ## have ## c# f# g# a# b# d#"
    val d = Seq((1L, prose), (2L, bullets), (3L, symbols))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d, "doc_id", "text")
    val rows = out.collect().map(r => r.getLong(0) ->
      out.columns.zip(r.toSeq).toMap).toMap
    assert(rows(1L)("pass") == 1)
    assert(rows(1L)("r_word_count") == 1 && rows(1L)("n_words") == 90)
    // all four lines are bullets -> fraction 1.0 > 0.9, and too few words
    assert(rows(2L)("r_bullet_lines") == 0 && rows(2L)("bullet_line_frac") == 1.0)
    assert(rows(2L)("r_word_count") == 0 && rows(2L)("pass") == 0)
    // 16 '#' over 17 words -> ratio ~0.94 > 0.1; stopwords still present
    assert(rows(3L)("r_symbol_ratio") == 0 && rows(3L)("r_stop_words") == 1)
    assert(rows(3L)("pass") == 0)
  }

  test("gopherFilter(requireStopWords = true): accept and reject paths") {
    val prose = (1 to 6).map(_ =>
      "the cat sat with the dog and they have gone to look at that bird")
      .mkString(" ") // 90 words, >= 2 indicator words -> full gate accepts
    val noStop = (1 to 60).map(i => s"word$i").mkString(" ")
      // 60 words, clears every content rule but carries ZERO indicator
      // words -> the stopword rule alone rejects it
    val d = Seq((1L, prose), (2L, noStop)).toDF("doc_id", "text")
    val strict = TextAnalysis.gopherFilter(d, "doc_id", "text",
      requireStopWords = true).select("doc_id").as[Long].collect().toSet
    assert(strict == Set(1L))
    val lax = TextAnalysis.gopherFilter(d, "doc_id", "text",
      requireStopWords = false).select("doc_id").as[Long].collect().toSet
    assert(lax == Set(1L, 2L)) // the rejection above was the stopword rule
  }

  test("gopherRules: ellipsis line fraction and alpha-word fraction") {
    val d = Seq(
      (1L, "first line...\nsecond line…\nthird stays\nfourth stays"),
      (2L, "1 2 3 4 5 6 7 8 9 10")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // 2 of 4 lines end in an ellipsis -> 0.5 > 0.3
    assert(out(1L).getAs[Double]("ellipsis_line_frac") == 0.5)
    assert(out(1L).getAs[Int]("r_ellipsis_lines") == 0)
    // no alphabetic words at all
    assert(out(2L).getAs[Double]("alpha_word_frac") == 0.0)
    assert(out(2L).getAs[Int]("r_alpha_words") == 0)
  }

  test("piiStats: per-group doc and match counts across all three families") {
    val d = Seq(
      ("g1", "mail me at a.b@example.com or ring +1 555-123-4567 today"),
      ("g1", "see https://example.com/x and http://other.example too"),
      ("g1", "totally clean row"),
      ("g2", "no pii in this group either")).toDF("src", "text")
    val out = TextAnalysis.piiStats(d, "src", "text")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // g1: 3 docs, 2 carry PII; 1 email, 1 phone, 2 urls
    assert(out("g1") == (("g1", 3L, 2L, 1L, 1L, 2L)))
    assert(out("g2") == (("g2", 1L, 0L, 0L, 0L, 0L)))
  }

  test("lengthHistogram: exact power-of-two bucket edges, zero lengths dropped") {
    val d = Seq(("en", 7L), ("en", 8L), ("en", 15L), ("en", 16L),
      ("de", 1L), ("de", 0L)).toDF("lang", "n_chars")
    val out = TextAnalysis.lengthHistogram(d, "lang", "n_chars")
      .as[(String, Int, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // bucket = floor(log2)+1 exactly: 7 -> 3, 8 -> 4, 15 -> 4, 16 -> 5
    assert(out(("en", 3)) == ((1L, 7L, 7L)))
    assert(out(("en", 4)) == ((2L, 8L, 15L)))
    assert(out(("en", 5)) == ((1L, 16L, 16L)))
    assert(out(("de", 1)) == ((1L, 1L, 1L)))
    assert(out.size == 4) // the zero-length row contributes nothing
  }

  test("chunkDocuments: overlapping windows, covered tail not re-emitted, empty docs dropped") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than a chunk
      (3L, "   ")                                     // whitespace-only: dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(d, "doc_id", "text",
      chunkTokens = 8, overlap = 4).as[(Long, Int, String, Int)].collect()
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    // n=10, stride=4: ceil(max(10-4,1)/4)=2 windows — [w1..w8], [w5..w10];
    // a third window [w9, w10] would be fully covered and must NOT appear
    assert(c1.map(_._3).toSeq == Seq(
      (1 to 8).map(i => s"w$i").mkString(" "),
      (5 to 10).map(i => s"w$i").mkString(" ")))
    assert(c1.map(_._4).toSeq == Seq(8, 6))
    // consecutive chunks share exactly `overlap` tokens
    assert(c1(0)._3.split(" ").takeRight(4).toSeq ==
      c1(1)._3.split(" ").take(4).toSeq)
    val c2 = out.filter(_._1 == 2L)
    assert(c2.length == 1 && c2.head._3 == "a b" && c2.head._4 == 2)
    assert(!out.exists(_._1 == 3L))
  }

  test("chunkUid: collision-free packing, loud failure on index overflow") {
    import org.apache.spark.sql.functions.{col, lit}
    val ok = Seq((7L, 3), (7L, 0), (8L, 3)).toDF("doc_id", "chunk_idx")
      .select(TextAnalysis.chunkUid(col("doc_id"), col("chunk_idx"))
        .as("uid")).as[Long].collect().toSet
    // distinct (doc, idx) pairs -> distinct uids, doc spaces disjoint
    assert(ok == Set(7L * (1L << 20) + 3, 7L * (1L << 20),
      8L * (1L << 20) + 3))
    // a >= 2^20 chunk index must FAIL the job, not merge uid spaces
    val boom = intercept[Exception] {
      Seq((7L, (1 << 20))).toDF("doc_id", "chunk_idx")
        .select(TextAnalysis.chunkUid(col("doc_id"), col("chunk_idx")))
        .collect()
    }
    assert(boom.toString.contains("chunkUid") ||
      Option(boom.getCause).exists(_.toString.contains("chunkUid")) ||
      boom.toString.contains("USER_RAISED_EXCEPTION") ||
      Option(boom.getCause).exists(_.toString
        .contains("USER_RAISED_EXCEPTION")))
  }

  test("lengthStatsSketch: GK rank guarantee |approx - exact| <= n/accuracy on a value grid") {
    import org.apache.spark.sql.functions.col
    // three groups with known distributions: a 1..2000 grid, a skewed
    // grid (squares), and a tiny group (exercises the +1 rank slack)
    val rows = (1 to 2000).map(v => ("grid", v)) ++
      (1 to 1000).map(v => ("skew", v * v % 997)) ++
      (1 to 7).map(v => ("tiny", v * 10))
    val df = rows.toDF("g", "v").repartition(8) // sketch merges across partitions
    for (acc <- Seq(100, 1000, 10000)) {
      val sk = TextAnalysis.lengthStatsSketch(df, "g", "v", acc)
        .select(col("g"), col("n"), col("p50_sketch"), col("p90_sketch"))
        .as[(String, Long, Int, Int)].collect()
      val byG = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted
      }
      for ((g, n, p50, p90) <- sk; sortedVs = byG(g)) {
        // the sketch value must be an actual element whose rank is
        // within n/accuracy of the target rank
        assert(sortedVs.contains(p50), s"$g/$acc: p50=$p50 not an element")
        for ((p, v) <- Seq((0.5, p50), (0.9, p90))) {
          val lt = sortedVs.count(_ < v)
          val le = sortedVs.count(_ <= v)
          val target = math.ceil(p * n)
          val tol = n.toDouble / acc + 1.0
          assert(target >= lt + 1 - tol && target <= le + tol,
            s"$g acc=$acc p=$p: value $v rank ($lt, $le] vs target $target tol $tol")
        }
      }
      // the audit face agrees with the hand check: all booleans true
      val audit = TextAnalysis.lengthStatsSketchAudit(df, "g", "v", acc)
        .as[(String, Long, Boolean, Boolean)].collect()
      assert(audit.length == 3 && audit.forall(r => r._3 && r._4),
        s"audit at acc=$acc: ${audit.mkString(",")}")
    }
  }

  test("fertility: per-group BPE-per-word ratio from one scan, consistent with the encoders") {
    val d = Seq(
      ("en", "the quick brown fox"),
      ("en", "jumps over  lazy dogs"), // double space: still 4 ws words
      ("de", "ungewoehnlich lange zusammengesetzte woerter")
    ).toDF("lang", "text")
    val out = TextAnalysis.fertility(d, "lang")
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // ws-token denominators
    assert(out("en")._4 == 8 && out("de")._4 == 4)
    // numerators agree with the BPE encoder run standalone
    val nb = TextAnalysis.withBpeTokens(d, "text")
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum($"n_bpe_tokens").as("nb"))
      .as[(String, Long)].collect().toMap
    assert(out("en")._3 == nb("en") && out("de")._3 == nb("de"))
    // ratio on the 6-place grid; BPE can never emit fewer tokens than
    // whitespace words (every word is >= 1 subword)
    val f = out("en")._5.get
    assert(math.abs(f - math.rint(1e6 * out("en")._3.toDouble /
      out("en")._4) / 1e6) < 1e-9)
    assert(f >= 1.0 && out("de")._5.get >= 1.0)
  }
}
