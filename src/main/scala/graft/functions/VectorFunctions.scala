package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (SURVEY.md §4 north-star
  * item b: promote cosine similarity from composed built-ins to a codegen'd
  * `Expression`). A Scala UDF would force ser/de of every array through the
  * encoder on each call; `aggregate(zip_with(...))` stays in Tungsten format
  * but allocates an intermediate array per row and is interpreted per
  * element. This expression reads the two float arrays directly from unsafe
  * row memory in a fused loop inside whole-stage codegen — the hot path of
  * an O(n·k) brute-force similarity scan at 100 TB.
  *
  * Math contract: accumulation is sequential in ascending index order with
  * double precision, result = dot / (sqrt(na) * sqrt(nb)) — bit-identical
  * to DuckDB's `list_cosine_similarity` on DOUBLE[] (verified empirically),
  * which keeps these queries oracle-checkable without rounding slop.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.of(a.asInstanceOf[ArrayData], elemIsDouble(left),
      b.asInstanceOf[ArrayData], elemIsDouble(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getX = if (elemIsDouble(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY = if (elemIsDouble(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = $getX;
         |  final double $y = $getY;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The interpreted kernel, shared with the per-row IVF kernels
    * (`graft.streaming.IvfKernels`); the codegen path above emits the
    * same loop.
    */
  def of(xs: ArrayData, xDouble: Boolean, ys: ArrayData, yDouble: Boolean): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (xDouble) xs.getDouble(i) else xs.getFloat(i).toDouble
      val y = if (yDouble) ys.getDouble(i) else ys.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb))
  }
}

/** Dot product with the same memory-access/codegen strategy. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.of(a.asInstanceOf[ArrayData], elemIsDouble(left),
      b.asInstanceOf[ArrayData], elemIsDouble(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val getX = if (elemIsDouble(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY = if (elemIsDouble(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $dot += $getX * $getY; }
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The interpreted kernel, shared with the per-row IVF kernels. */
  def of(xs: ArrayData, xDouble: Boolean, ys: ArrayData, yDouble: Boolean): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      val x = if (xDouble) xs.getDouble(i) else xs.getFloat(i).toDouble
      val y = if (yDouble) ys.getDouble(i) else ys.getFloat(i).toDouble
      dot += x * y
      i += 1
    }
    dot
  }
}

/** Integer squared L2 distance over two BIGINT arrays (the frozen-vector
  * kernel of the trained-PQ family): sum (x−y)² in Long arithmetic —
  * bit-identical to the previous
  * `aggregate(zip_with(a, b, (x,y) => (x−y)*(x−y)), 0L, _+_)` form on
  * equal-length arrays (integer adds are exact and order-trivial), but
  * codegen'd: the higher-order-function form is CodegenFallback —
  * per-element interpreted lambdas plus an intermediate array allocation
  * per row — and it sat on the hot path of every assignment/probe/
  * Lloyd-scoring stage (r16: q250's probe stage spent 1.7 s CPU on 128k
  * rows in the interpreted form).
  *
  * Arrays of unequal length have no distance: the result is NULL, never
  * the sum over the shorter prefix (a plausible wrong value). The rule
  * lives once, in the companion, and both evaluation paths and the
  * per-row IVF kernels call it.
  */
case class IntSqDist(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"int_sq_dist expects array<bigint>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (IntSqDist.defined(xs, ys)) IntSqDist.sumSq(xs, ys) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val k = "graft.functions.IntSqDist$.MODULE$"
      s"""
         |${ev.isNull} = !$k.defined($a, $b);
         |if (!${ev.isNull}) { ${ev.value} = $k.sumSq($a, $b); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntSqDist {
  /** A distance exists only between vectors of one length. */
  def defined(xs: ArrayData, ys: ArrayData): Boolean =
    xs.numElements() == ys.numElements()

  /** Σ (x−y)² in exact Long arithmetic; callers check [[defined]] first. */
  def sumSq(xs: ArrayData, ys: ArrayData): Long = {
    val n = xs.numElements()
    var s = 0L; var i = 0
    while (i < n) {
      val d = xs.getLong(i) - ys.getLong(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** ADC lookup-sum: Σ_m lut[m·k + codes[m]] with element_at's 1-BASED
  * indexing — bit-identical to the previous
  * `aggregate(transform(codes, (c,m) => element_at(lut, m·k + c)), 0L, _+_)`
  * (exact Long adds; a code whose lookup lands outside [1, len(lut)]
  * yields NULL exactly like element_at in non-ANSI mode), but codegen'd —
  * the interpreted form was the per-candidate inner loop of every ADC
  * scan (q239/q242/q244/q246/q248 and the incremental index's admission
  * and topK stages).
  */
case class AdcLookupSum(left: Expression, right: Expression, kCent: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val okCodes = left.dataType match {
      case ArrayType(LongType, _) | ArrayType(IntegerType, _) => true
      case _ => false
    }
    val okLut = right.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (okCodes && okLut)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"adc_lookup_sum expects (array<bigint|int>, array<bigint>), got ${left.dataType} / ${right.dataType}")
  }

  private def codesAreLong: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val n = cs.numElements()
    val len = lut.numElements()
    var s = 0L; var i = 0
    while (i < n) {
      val c = if (codesAreLong) cs.getLong(i) else cs.getInt(i).toLong
      val idx = i.toLong * kCent + c // 1-based element_at index
      if (idx < 1 || idx > len) return null
      s += lut.getLong(idx.toInt - 1)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val len = ctx.freshName("len")
      val s = ctx.freshName("s")
      val idx = ctx.freshName("idx")
      val getC = if (codesAreLong) s"$a.getLong($i)" else s"(long) $a.getInt($i)"
      s"""
         |final int $n = $a.numElements();
         |final int $len = $b.numElements();
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $idx = ((long) $i) * ${kCent}L + $getC;
         |  if ($idx < 1L || $idx > (long) $len) { ${ev.isNull} = true; break; }
         |  $s += $b.getLong((int) ($idx - 1L));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  import org.apache.spark.sql.graft.ColumnBridge

  /** cosine_similarity(a, b) over array<float>/array<double> columns. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** int_sq_dist(a, b) over array<bigint> columns (frozen-vector L2):
    * exact, order-free Long arithmetic — at frozen coords ≤ 1e6 a per-dim
    * term is ≤ 4e12, so any cross-subspace sum stays far inside BIGINT.
    */
  def intSqDist(a: Column, b: Column): Column =
    ColumnBridge.column(IntSqDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** adc_lookup_sum(codes, lut, k): Σ lut[m·k + codes[m]], 1-based —
    * the integer ADC distance of a packed code array against a packed LUT
    * (element_at's out-of-range → NULL), the per-candidate inner loop of
    * every ADC scan. `k` is the codebook's effective per-subspace size.
    */
  def adcLookupSum(codes: Column, lut: Column, kCent: Int): Column =
    ColumnBridge.column(AdcLookupSum(ColumnBridge.expression(codes),
      ColumnBridge.expression(lut), kCent))

  /** Register for SQL use: SELECT cosine_similarity(a, b) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, "cosine_similarity",
      exprs => CosineSimilarity(exprs(0), exprs(1)))
    ColumnBridge.registerFunction(spark, "dot_product",
      exprs => DotProduct(exprs(0), exprs(1)))
  }
}
