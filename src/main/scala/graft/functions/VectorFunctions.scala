package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path: double-precision
  * dot product over two `array<float>` (or `array<double>`) columns.
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`: Spark's
  * higher-order functions are evaluated INTERPRETED (per-element lambda
  * dispatch + boxing + an allocated intermediate array per row); on an
  * O(pairs) similarity join that dominates the runtime. This expression
  * participates in whole-stage codegen — the generated Java is a tight
  * primitive loop over the two `ArrayData` buffers, no allocation, no
  * boxing (measured ~40x over the HOF formulation on the similarity
  * queries at sf0.1).
  *
  * Accumulation is in ascending index order in double precision — exactly
  * the order the DuckDB oracle's `list_aggregate(..., 'sum')` uses, so
  * results stay bit-comparable across engines.
  *
  * Null elements inside the arrays are treated as 0 (embeddings are
  * dense; a null element would be upstream corruption).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // each side independently array<float> or array<double> (raw embeddings
  // are float; learned centroids from the mean aggregate are double) —
  // accumulation is double either way, matching the oracle's all-double math
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_fdot expects array<float>|array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_fdot"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (lf, rf) = (isFloat(left), isFloat(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, NOT fixed locals: with non-nullable inputs
      // nullSafeCodeGen adds no braced scope, so two instances fused into
      // one codegen function (cosine() composes three) would otherwise
      // redeclare the same variables — a Janino error and a silent
      // fallback to interpreted eval
      val n = ctx.freshName("fdotN")
      val acc = ctx.freshName("fdotAcc")
      val i = ctx.freshName("fdotI")
      def get(arr: String, idx: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += ${get(a, i, isFloat(left))} * ${get(b, i, isFloat(right))};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** int8 scalar-quantization scale for one vector: 127 / max|x| (0 for the
  * all-zero vector, so its quantized form is all-zero and any guarded
  * score is 0). Pure IEEE arithmetic — abs, compare, one division — so
  * the value is BIT-identical to the DuckDB oracle's replay, and scores
  * derived from it can be ranked unrounded.
  */
case class Q8Scale(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_q8_scale expects array<float>|array<double>, got ${t.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_q8_scale"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var m = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) {
        val v = math.abs(if (isFloat) x.getFloat(i).toDouble else x.getDouble(i))
        if (v > m) m = v
      }
      i += 1
    }
    if (m == 0.0) 0.0 else 127.0 / m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.freshName("q8sM")
      val i = ctx.freshName("q8sI")
      val v = ctx.freshName("q8sV")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |double $m = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = java.lang.Math.abs($get);
         |    if ($v > $m) $m = $v;
         |  }
         |}
         |${ev.value} = ($m == 0.0) ? 0.0 : 127.0 / $m;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Q8Scale =
    copy(child = c)
}

/** int8 scalar quantization: q_i = clamp(floor(x_i * scale + 0.5), -127,
  * 127) as `array<tinyint>` — explicit floor(+0.5) instead of round() so
  * both engines share one half-up rule (round() semantics differ across
  * engines on exact halves). Null elements quantize to 0 (dense-embedding
  * contract, as [[FloatDotProduct]]). The whole computation is exact
  * integer/IEEE, giving bit-identical sketches everywhere — the 4x
  * memory-footprint path for ANN indexes at corpus scale.
  */
case class Q8Quantize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_q8 expects (array<float>|array<double>, double), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
  override def prettyName: String = "graft_q8"

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, s: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val scale = s.asInstanceOf[Double]
    val out = new Array[Byte](x.numElements())
    var i = 0
    while (i < out.length) {
      val v = if (x.isNullAt(i)) 0.0
        else if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      var r = math.floor(v * scale + 0.5)
      if (r > 127) r = 127 else if (r < -127) r = -127
      out(i) = r.toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("q8N")
      val tmp = ctx.freshName("q8Tmp")
      val i = ctx.freshName("q8I")
      val v = ctx.freshName("q8V")
      val r = ctx.freshName("q8R")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |byte[] $tmp = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.isNullAt($i) ? 0.0 : $get;
         |  double $r = java.lang.Math.floor($v * $s + 0.5);
         |  $r = $r > 127.0 ? 127.0 : ($r < -127.0 ? -127.0 : $r);
         |  $tmp[$i] = (byte) $r;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($tmp);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Q8Quantize =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product over two `array<tinyint>` quantized vectors — a
  * tight primitive loop in whole-stage codegen, exact (long accumulate,
  * no float drift, order-independent). The pair-scoring hot path of the
  * quantized ANN serving plan.
  */
case class Int8DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_i8dot expects array<tinyint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_i8dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getByte(i).toLong * y.getByte(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("i8N")
      val acc = ctx.freshName("i8Acc")
      val i = ctx.freshName("i8I")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += ((long) $a.getByte($i)) * $b.getByte($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Dense matrix x vector product for the trained-rotation hot path: `mat` is
  * a ROW-MAJOR flattened `array<double>` of a (dimOut x dimIn) matrix
  * (in practice a FOLDABLE literal — the learned rotation is driver-sized
  * and rides the plan, no broadcast join), `vec` an `array<float|double>`
  * embedding; output element i = sum_j mat[i*dimIn + j] * vec[j], each
  * row accumulated in ascending-j double precision (the [[FloatDotProduct]]
  * determinism contract, so a SQL oracle can replay it bit-identically).
  *
  * Why an Expression: the `transform(sequence(...), aggregate(...))` HOF
  * formulation is interpreted per element (dimOut x dimIn boxed lambda
  * dispatches per row); unrolling to dim x dim literal arithmetic blows
  * past the 64 KB codegen method limit at dim=64. This stays one tight
  * generated loop.
  */
case class MatVecMul(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val matOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val vecOk = right.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (matOk && vecOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_matvec expects (array<double> row-major matrix, " +
        s"array<float>|array<double> vector), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_matvec"

  private def vecIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val m = a.asInstanceOf[ArrayData]
    val x = b.asInstanceOf[ArrayData]
    val dimIn = x.numElements()
    require(dimIn > 0 && m.numElements() % dimIn == 0,
      s"graft_matvec: matrix length ${m.numElements()} not a multiple " +
        s"of vector length $dimIn")
    val dimOut = m.numElements() / dimIn
    val out = new Array[Double](dimOut)
    var i = 0
    while (i < dimOut) {
      var s = 0.0
      var j = 0
      while (j < dimIn) {
        val xv = if (x.isNullAt(j)) 0.0
          else if (vecIsFloat) x.getFloat(j).toDouble else x.getDouble(j)
        s += m.getDouble(i * dimIn + j) * xv
        j += 1
      }
      out(i) = s
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dimIn = ctx.freshName("mvDimIn")
      val dimOut = ctx.freshName("mvDimOut")
      val out = ctx.freshName("mvOut")
      val i = ctx.freshName("mvI")
      val j = ctx.freshName("mvJ")
      val acc = ctx.freshName("mvAcc")
      val getX =
        if (vecIsFloat) s"(double) $b.getFloat($j)" else s"$b.getDouble($j)"
      s"""
         |int $dimIn = $b.numElements();
         |if ($dimIn == 0 || $a.numElements() % $dimIn != 0) {
         |  throw new IllegalArgumentException("graft_matvec: matrix length "
         |    + $a.numElements() + " not a multiple of vector length " + $dimIn);
         |}
         |int $dimOut = $a.numElements() / $dimIn;
         |double[] $out = new double[$dimOut];
         |for (int $i = 0; $i < $dimOut; $i++) {
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $dimIn; $j++) {
         |    $acc += $a.getDouble($i * $dimIn + $j) *
         |      ($b.isNullAt($j) ? 0.0 : $getX);
         |  }
         |  $out[$i] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MatVecMul =
    copy(left = newLeft, right = newRight)
}

/** Registration for the graft native functions: [[GraftFunctions.register]]
  * is idempotent, and the operators call it themselves on every entry.
  */
object GraftFunctions {
  /** Builder for [[BpeMergeApply]]: (syms, x literal, y literal). */
  private def bpeMergeBuilder(exprs: Seq[Expression]): Expression = {
    checkArgs("graft_bpe_merge", exprs, Seq(3), "(syms, x literal, y literal)")
    BpeMergeApply(exprs.head,
      exprs(1).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
      exprs(2).eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
  }

  /** Clear analysis-time error for builder misuse: the parameter slots of
    * the graft functions are plan-time constants, so anything non-foldable
    * (or a wrong arity) must fail with a message, not an opaque
    * NullPointer/ClassCast deep in `eval()`.
    */
  private def checkArgs(name: String, exprs: Seq[Expression],
                        arities: Seq[Int], usage: String): Unit = {
    require(arities.contains(exprs.length),
      s"$name expects $usage (got ${exprs.length} args)")
    require(exprs.tail.forall(_.foldable),
      s"$name expects $usage — all parameters after the first must be literals")
  }

  /** Builder for [[WordGrams]] from a `call_function` argument list:
    * (text, k literal, distinct literal[, ws literal]).
    */
  private def wordGramsBuilder(exprs: Seq[Expression]): Expression = {
    checkArgs("graft_word_grams", exprs, Seq(3, 4),
      "(text, k literal, distinct literal[, ws literal])")
    WordGrams(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue(),
      exprs(2).eval().asInstanceOf[Boolean],
      if (exprs.length > 3) exprs(3).eval().asInstanceOf[Boolean] else false)
  }

  /** Builder for [[StopwordHits]]: (text, array<string> literal[, ws literal]). */
  private def stopwordHitsBuilder(exprs: Seq[Expression]): Expression = {
    checkArgs("graft_stopword_hits", exprs, Seq(2, 3),
      "(text, array<string> literal[, ws literal])")
    StopwordHits(exprs.head,
      exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).toSeq.map(_.toString),
      if (exprs.length > 2) exprs(2).eval().asInstanceOf[Boolean] else false)
  }

  /** Builder for [[BpeTokenCount]]: (text[, flattened merges
    * array<string> literal]) — omitted merges = [[BpeUtil.DefaultMerges]].
    */
  private def bpeTokensBuilder(exprs: Seq[Expression]): Expression = {
    checkArgs("graft_bpe_tokens", exprs, Seq(1, 2),
      "(text[, flattened merges array<string> literal])")
    val merges =
      if (exprs.length > 1)
        exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).toSeq.map(_.toString)
      else BpeUtil.DefaultMerges.flatMap { case (x, y) => Seq(x, y) }
    BpeTokenCount(exprs.head, merges)
  }

  /** Builder for [[CharGramFingerprint]]: (text, n literal). */
  private def charFpBuilder(exprs: Seq[Expression]): Expression = {
    checkArgs("graft_char_fingerprint", exprs, Seq(2), "(text, n literal)")
    CharGramFingerprint(exprs.head,
      exprs(1).eval().asInstanceOf[Number].intValue())
  }

  /** Register a graft function only if this session doesn't already
    * have it — operators call [[register]] defensively on every entry,
    * so an unconditional `createOrReplaceTempFunction` logged a
    * SimpleFunctionRegistry "replaced a previously registered function"
    * warning on every repeat (ADVICE r19 cosmetics).
    */
  private def regIfAbsent(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val fr = spark.sessionState.functionRegistry
    if (!fr.functionExists(FunctionIdentifier(name)))
      fr.createOrReplaceTempFunction(name, builder, "built-in")
  }

  def register(spark: SparkSession): Unit = {
    regIfAbsent(spark, "graft_fdot")(
      exprs => FloatDotProduct(exprs.head, exprs(1)))
    regIfAbsent(spark, "graft_vec_avg")(
      exprs => VectorAvgAggregate(exprs.head).toAggregateExpression())
    regIfAbsent(spark, "graft_word_grams")(wordGramsBuilder)
    regIfAbsent(spark, "graft_stopword_hits")(stopwordHitsBuilder)
    regIfAbsent(spark, "graft_char_fingerprint")(charFpBuilder)
    regIfAbsent(spark, "graft_q8_scale")(exprs => Q8Scale(exprs.head))
    regIfAbsent(spark, "graft_q8")(
      exprs => Q8Quantize(exprs.head, exprs(1)))
    regIfAbsent(spark, "graft_i8dot")(
      exprs => Int8DotProduct(exprs.head, exprs(1)))
    regIfAbsent(spark, "graft_matvec")(
      exprs => MatVecMul(exprs.head, exprs(1)))
    regIfAbsent(spark, "graft_bpe_tokens")(bpeTokensBuilder)
    regIfAbsent(spark, "graft_bpe_merge")(bpeMergeBuilder)
    regIfAbsent(spark, "graft_jaro_winkler")(
      exprs => JaroWinkler(exprs.head, exprs(1)))
    regIfAbsent(spark, "graft_woverlap")(
      exprs => WeightedMinOverlap(exprs.head, exprs(1), exprs(2),
        exprs(3)))
    regIfAbsent(spark, "graft_soverlap")(
      exprs => SortedOverlapCount(exprs.head, exprs(1)))
  }
}
