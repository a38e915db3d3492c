package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime for [[WordGrams]]: word k-grams of a space-separated string as
  * one compiled scan, no per-element lambda dispatch.
  *
  * Token semantics match `split(text, " ")` with limit -1 (single-space
  * separator, empty tokens from consecutive/leading/trailing spaces kept),
  * and each gram equals `array_join(slice(tokens, i, k), " ")`. Because
  * the separator is a single space, a gram is exactly the substring of the
  * input between the first char of token i and the last char of token
  * i+k-1 — so grams are emitted as substrings of the original buffer, no
  * per-gram join.
  */
object WordGramsUtil {
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Java-regex `\s` membership — the separator class of the
    * whitespace-robust mode (matches `split(text, "\\s+")` semantics and
    * RE2/DuckDB `\s` on everything but the vertical tab, which RE2
    * excludes; real corpora don't carry \x0B, and the difference is
    * documented rather than silently split).
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace-robust word k-grams: tokens are maximal runs of
    * NON-whitespace characters (empty tokens dropped — leading/trailing
    * whitespace and separator runs contribute nothing), and grams are
    * joined with a single normalized space. Equivalent to
    * `filter(split(text, '\\s+'), t -> t <> '')` sliding windows of k
    * joined by ' ' — what raw crawl text needs, where the single-space
    * mode would produce empty tokens and whitespace-embedded grams.
    */
  private def wsGrams(str: String, k: Int, distinct: Boolean): ArrayData = {
    val len = str.length
    // token spans: starts(j) inclusive, ends(j) exclusive
    var nTok = 0
    var i = 0
    var inTok = false
    while (i < len) {
      val w = isWs(str.charAt(i))
      if (!w && !inTok) nTok += 1
      inTok = !w
      i += 1
    }
    val nGrams = nTok - k + 1
    if (nGrams <= 0) return Empty
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    i = 0
    inTok = false
    while (i < len) {
      val w = isWs(str.charAt(i))
      if (!w && !inTok) { starts(t) = i; t += 1 }
      if (w && inTok) ends(t - 1) = i
      inTok = !w
      i += 1
    }
    if (inTok) ends(t - 1) = len
    def gram(g: Int): String = {
      val sb = new java.lang.StringBuilder(
        ends(g + k - 1) - starts(g)) // upper bound on joined length
      var j = g
      while (j < g + k) {
        if (j > g) sb.append(' ')
        sb.append(str, starts(j), ends(j))
        j += 1
      }
      sb.toString
    }
    if (!distinct) {
      val out = new Array[Any](nGrams)
      var g = 0
      while (g < nGrams) { out(g) = UTF8String.fromString(gram(g)); g += 1 }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[String](nGrams * 2)
      var g = 0
      while (g < nGrams) { seen.add(gram(g)); g += 1 }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
  }

  def grams(s: UTF8String, k: Int, distinct: Boolean, ws: Boolean): ArrayData = {
    val str = s.toString
    if (ws) return wsGrams(str, k, distinct)
    val len = str.length
    var nSpaces = 0
    var i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') nSpaces += 1
      i += 1
    }
    val nTok = nSpaces + 1
    val nGrams = nTok - k + 1
    if (nGrams <= 0) return Empty
    // token boundaries as char offsets: starts(j) inclusive, ends(j) exclusive
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    i = 0
    while (i < len) {
      if (str.charAt(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len
    if (!distinct) {
      val out = new Array[Any](nGrams)
      var g = 0
      while (g < nGrams) {
        out(g) = UTF8String.fromString(str.substring(starts(g), ends(g + k - 1)))
        g += 1
      }
      new GenericArrayData(out)
    } else {
      // first-occurrence order, same as array_distinct
      val seen = new java.util.LinkedHashSet[String](nGrams * 2)
      var g = 0
      while (g < nGrams) {
        seen.add(str.substring(starts(g), ends(g + k - 1)))
        g += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
  }
}

/** Runtime for [[StopwordHits]] and [[CharGramFingerprint]]: single-pass
  * compiled scans over the text, no token-array allocation, no per-element
  * lambda dispatch.
  */
object TextScoreUtil {
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Count of tokens of `s` contained in `words` — equivalent to
    * `size(filter(split(s, " "), w -> array_contains(words, w)))` (empty
    * tokens from split-on-single-space semantics are never stopwords, so
    * the one-pass scan needs no special-casing). With `ws = true` the
    * separator is any Java-regex-`\s` run instead of a single space —
    * `size(filter(split(s, "\\s+"), ...))` semantics for raw crawl text.
    */
  def hitCount(s: UTF8String, words: java.util.HashSet[String],
               ws: Boolean): Int = {
    val str = s.toString
    var hits = 0
    var start = 0
    var i = 0
    val len = str.length
    while (i <= len) {
      if (i == len || (if (ws) isWs(str.charAt(i)) else str.charAt(i) == ' ')) {
        if (i > start && words.contains(str.substring(start, i))) hits += 1
        start = i + 1
      }
      i += 1
    }
    hits
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** (min md5 hex, distinct-gram count) over the rolling char `n`-grams of
    * `s`; texts shorter than n chars contribute the whole text as the
    * single gram — mirrors [[graft.ops.TextAnalysis.fingerprint]]'s HOF
    * formulation and the DuckDB oracle's `substr` walk.
    */
  def charGramFingerprint(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val md = java.security.MessageDigest.getInstance("MD5")
    val nGrams = math.max(str.length - (n - 1), 1)
    val seen = new java.util.HashSet[String](nGrams * 2)
    var minHex: String = null
    var i = 0
    while (i < nGrams) {
      val gm = str.substring(i, math.min(i + n, str.length))
      if (seen.add(gm)) {
        md.reset()
        val d = md.digest(gm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = new Array[Char](32)
        var j = 0
        while (j < 16) {
          hex(2 * j) = HexDigits((d(j) >> 4) & 0xf)
          hex(2 * j + 1) = HexDigits(d(j) & 0xf)
          j += 1
        }
        val h = new String(hex)
        if (minHex == null || h < minHex) minHex = h
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(minHex), seen.size)
  }
}

/** Native codegen count of stopword occurrences among the space-separated
  * tokens of a string column — the scoring primitive behind language ID
  * and quality signals. The HOF formulation (`size(filter(split(...)))`)
  * is interpreted AND CodegenFallback: one occurrence anywhere in a
  * predicate knocks the whole operator out of whole-stage codegen, which
  * also disables subexpression elimination — the curation filter was
  * re-evaluating `split(lower(text))` ~20x per row because of it.
  */
case class StopwordHits(child: Expression, words: Seq[String],
                        ws: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_stopword_hits expects a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "graft_stopword_hits"

  @transient private lazy val wordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    TextScoreUtil.hitCount(input.asInstanceOf[UTF8String], wordSet, ws)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopwords", wordSet,
      classOf[java.util.HashSet[String]].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextScoreUtil.hitCount($c, $setRef, $ws)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

/** Native codegen document fingerprint: struct(fp_min_hash, n_distinct_grams)
  * over rolling char n-grams, one compiled pass (md5 hashed once per
  * DISTINCT gram) — replaces two interpreted HOF walks over the gram array.
  */
case class CharGramFingerprint(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_fingerprint expects a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("fp_min_hash",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_distinct_grams",
      org.apache.spark.sql.types.IntegerType, nullable = false)))

  override def prettyName: String = "graft_char_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    TextScoreUtil.charGramFingerprint(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextScoreUtil.charGramFingerprint($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharGramFingerprint =
    copy(child = newChild)
}

/** Native Catalyst expression for the text-dedup hot path: word k-grams
  * (optionally per-document distinct) of a string column.
  *
  * Why a custom Expression instead of
  * `array_distinct(transform(sequence(...), i -> array_join(slice(ws, i, k))))`:
  * Spark's higher-order functions evaluate INTERPRETED — per-gram lambda
  * dispatch, boxing, and an allocated intermediate token array per gram —
  * and `InferFiltersFromGenerate` re-evaluates the whole array expression
  * in the filter it pushes under the explode, doubling that cost. This
  * expression participates in whole-stage codegen as a single static call
  * into [[WordGramsUtil]] (measured ~8x on the shingle stage of the fuzzy
  * dedup pipeline at sf0.1).
  *
  * Oracle parity: grams equal DuckDB's
  * `array_to_string(string_split(text, ' ')[i:i+k-1], ' ')` — see
  * [[graft.queries.TextQueries]]. With `ws = true`, tokenization switches
  * to whitespace-robust `split('\\s+')` semantics (empty tokens dropped,
  * grams joined with a normalized single space) — the mode for raw crawl
  * text, whose oracle mirror is
  * `list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')`.
  */
case class WordGrams(child: Expression, k: Int, distinct: Boolean,
                     ws: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_grams expects a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_word_grams"

  override protected def nullSafeEval(input: Any): Any =
    WordGramsUtil.grams(input.asInstanceOf[UTF8String], k, distinct, ws)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordGramsUtil.grams($c, $k, $distinct, $ws)")

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

/** Runtime for [[WeightedMinOverlap]]: the sorted-merge Σ min(tf) walk,
  * shared by interpreted eval and the codegen call.
  */
object WeightedMinOverlapUtil {
  def overlap(wa: ArrayData, ta: ArrayData, wb: ArrayData,
              tb: ArrayData): Long = {
    // graft_woverlap is a registered public SQL function, so user SQL
    // can hand it ragged input: bound every tf read by the TF array's
    // own length and null-guard tf slots (reading a null slot via
    // getLong is undefined), mirroring the isNullAt guards on the
    // token arrays — a malformed row contributes 0, never garbage
    val na = math.min(wa.numElements(), ta.numElements())
    val nb = math.min(wb.numElements(), tb.numElements())
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      if (wa.isNullAt(i)) i += 1
      else if (wb.isNullAt(j)) j += 1
      else {
        val c = wa.getUTF8String(i).compareTo(wb.getUTF8String(j))
        if (c == 0) {
          if (!ta.isNullAt(i) && !tb.isNullAt(j))
            acc += math.min(ta.getLong(i), tb.getLong(j))
          i += 1; j += 1
        } else if (c < 0) i += 1
        else j += 1
      }
    }
    acc
  }
}

/** Runtime for [[SortedOverlapCount]]: the sorted-merge set-intersection
  * count, shared by interpreted eval and the codegen call.
  */
object SortedOverlapUtil {
  def overlap(wa: ArrayData, wb: ArrayData): Long = {
    val na = wa.numElements()
    val nb = wb.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      // null entries are skipped (the woverlap contract): a registered
      // public SQL function must degrade a malformed row to 0-overlap
      // contribution, never throw or count garbage
      if (wa.isNullAt(i)) i += 1
      else if (wb.isNullAt(j)) j += 1
      else {
        val c = wa.getUTF8String(i).compareTo(wb.getUTF8String(j))
        if (c == 0) { acc += 1L; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    acc
  }
}

/** Native Catalyst expression for the set-similarity/containment verify
  * hot path (r22): |A ∩ B| over two documents' DISTINCT token arrays,
  * each sorted ascending in UTF8String binary order (what `sort_array`
  * produces for strings) — one zero-allocation merge walk per candidate
  * pair, replacing `size(array_intersect(wa, wb))`, which builds a hash
  * set AND a result array per evaluation. The distinction matters twice
  * over: the Jaccard/containment threshold is pushed into the verify
  * join's CONDITION, where codegen has no subexpression elimination, so
  * the intersection kernel runs several times per candidate (see the
  * dedup_quotes_removed note in DedupQueries) — each run must be cheap.
  * Sort/distinctness contract as [[WeightedMinOverlap]]: both arrays
  * ascending, elements unique within a document (they come from set
  * aggregates); NULL entries are skipped.
  */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_soverlap expects (array<string>, array<string>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_soverlap"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlapUtil.overlap(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedOverlapUtil.overlap($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapCount =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the weighted-containment verify hot
  * path (r19, the k=4 ladder rung): Σ_w min(tf_a, tf_b) over two
  * documents' token lists, each given as a SORTED array of tokens plus
  * an aligned array of term frequencies. One merge walk per PAIR
  * replaces the exploded shared-token join + pair aggregate, whose
  * input was |candidates| × doc-length rows — the measured 84 of the
  * rung's 111 seconds. Sort contract: both token arrays ascending in
  * UTF8String binary order (what `sort_array` produces for strings);
  * tokens are distinct within a document (they come from a
  * (doc_id, w) aggregate). NULL array entries are skipped.
  */
case class WeightedMinOverlap(first: Expression, second: Expression,
                              third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val strOk = Seq(first, third).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    val tfOk = Seq(second, fourth).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (strOk && tfOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_woverlap expects (array<string>, array<bigint>, " +
        "array<string>, array<bigint>), got (" +
        Seq(first, second, third, fourth)
          .map(_.dataType.simpleString).mkString(", ") + ")")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_woverlap"

  override protected def nullSafeEval(a: Any, b: Any, c: Any,
                                      d: Any): Any =
    WeightedMinOverlapUtil.overlap(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.WeightedMinOverlapUtil" +
        s".overlap($a, $b, $c, $d);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): WeightedMinOverlap =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}
