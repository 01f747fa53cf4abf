package graft.streaming

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{CosineSimilarity, DotProduct, IntSqDist}
import graft.operators.Similarity

/** The three per-vector kernels of [[IvfIndex]] — assignment, PQ coding
  * with residual, and ADC LUTs — as per-row functions over ONE epoch held
  * on the driver: the frozen pivots (⌊√n⌋ rows) and the trained codebook
  * (≤ 256 rows), both bounded by construction.
  *
  * Each kernel is BIT-EQUAL to its relational reference in
  * [[graft.operators.Similarity]] (IvfIndexSpec pins each one, edge cases
  * included); the references stay the gated batch path:
  *
  *  - [[nearOf]] ≡ `ivfNearOf`: cosine against every pivot, ranked by
  *    `cs_p DESC NULLS LAST, p_id` under Spark's double ordering (NaN
  *    above every number, −0.0 = 0.0), top `r` kept;
  *  - [[codeOf]] ≡ `trainedPqCodesWithResid`: per subspace the
  *    `min(struct(d, c_id))` argmin (a NULL distance sorts first; a
  *    strict `<` keeps the lowest c_id on ties), codes in m order, the
  *    residual the sum of the chosen distances;
  *  - [[lutOf]] ≡ `trainedPqLutsFor`: one entry per codebook row in
  *    `m·kEff + c_id` order.
  *
  * The relational forms explode every vector against every pivot or
  * centroid and shuffle back through a window or two group-bys; here
  * the same arithmetic runs inside one projection, with no shuffle and
  * no partition-count probe. Distances and cosines call the one shared
  * definition in [[graft.functions]] (`IntSqDist`, `CosineSimilarity`,
  * `DotProduct`), so a NULL-on-length-mismatch rule cannot diverge.
  *
  * Null elements inside an embedding count as 0 — what the reference's
  * Tungsten arrays read for them.
  */
private[streaming] final class IvfKernels private (
    pivIds: Array[Long], pivVecs: Array[ArrayData],
    cbM: Array[Int], cbC: Array[Int], cbFc: Array[ArrayData]) extends Serializable {

  /** The codebook's effective per-subspace size (0 when empty). */
  val kEff: Int = if (cbC.isEmpty) 0 else cbC.max

  /** Codebook rows per subspace m ∈ [0, 16), by ascending c_id. */
  private val byM: Array[Array[Int]] = Array.tabulate(Similarity.pqSubspaces) { m =>
    cbM.indices.filter(cbM(_) == m).sortBy(cbC(_)).toArray
  }

  /** Codebook rows in LUT position order, m·kEff + c_id. */
  private val lutOrder: Array[Int] =
    cbM.indices.filter(j => cbM(j) >= 0 && cbM(j) < Similarity.pqSubspaces)
      .sortBy(j => cbM(j).toLong * kEff + cbC(j)).toArray

  /** The p_ids of `e`'s top-`r` assignment, best first. */
  def nearOf(e: ArrayData, eDouble: Boolean, r: Int): Array[Long] = {
    val n = pivIds.length
    val cs = new Array[Double](n)
    val known = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (e != null && pivVecs(i) != null) {
        cs(i) = CosineSimilarity.of(e, eDouble, pivVecs(i), false)
        known(i) = true
      }
      i += 1
    }
    def before(a: Int, b: Int): Boolean =
      if (known(a) != known(b)) known(a)
      else {
        val c = if (known(a)) SQLOrderingUtil.compareDoubles(cs(a), cs(b)) else 0
        if (c != 0) c > 0 else pivIds(a) < pivIds(b)
      }
    // bounded insertion: r is a probe or membership depth, r ≪ nlist
    val k = math.min(math.max(r, 0), n)
    val top = new Array[Int](k)
    var len = 0
    i = 0
    while (i < n) {
      if (len < k || (k > 0 && before(i, top(k - 1)))) {
        var j = if (len < k) len else k - 1
        while (j > 0 && before(i, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = i
        if (len < k) len += 1
      }
      i += 1
    }
    top.map(pivIds)
  }

  /** (codes, resid) of `e`, or null outside the PQ model (a null or
    * zero-norm vector) or against an empty codebook.
    */
  def codeOf(e: ArrayData, eDouble: Boolean): (Array[Int], java.lang.Long) = {
    val subs = frozenSubs(e, eDouble)
    if (subs == null || byM.forall(_.isEmpty)) return null
    val codes = Array.newBuilder[Int]
    var resid = 0L
    var residKnown = false
    var m = 0
    while (m < byM.length) {
      var best = -1; var bestD = 0L; var bestKnown = false
      byM(m).foreach { j =>
        val known = IntSqDist.defined(subs(m), cbFc(j))
        val d = if (known) IntSqDist.sumSq(subs(m), cbFc(j)) else 0L
        val better = best < 0 ||
          (if (known != bestKnown) !known else known && d < bestD)
        if (better) { best = j; bestD = d; bestKnown = known }
      }
      if (best >= 0) {
        codes += cbC(best)
        if (bestKnown) { resid += bestD; residKnown = true }
      }
      m += 1
    }
    (codes.result(), if (residKnown) java.lang.Long.valueOf(resid) else null)
  }

  /** `e`'s ADC LUT (an entry is null where a distance is undefined), or
    * null outside the PQ model or against an empty codebook.
    */
  def lutOf(e: ArrayData, eDouble: Boolean): Array[java.lang.Long] = {
    if (lutOrder.isEmpty) return null
    val subs = frozenSubs(e, eDouble)
    if (subs == null) return null
    lutOrder.map { j =>
      val s = subs(cbM(j))
      if (IntSqDist.defined(s, cbFc(j))) java.lang.Long.valueOf(IntSqDist.sumSq(s, cbFc(j)))
      else null
    }
  }

  /** `pqNormalized` + the subspace slices + `freezeSub` of one vector,
    * or null when the reference's `n2 > 0` filter drops it.
    */
  private def frozenSubs(e: ArrayData, eDouble: Boolean): Array[ArrayData] = {
    if (e == null) return null
    val n2 = DotProduct.of(e, eDouble, e, eDouble)
    if (SQLOrderingUtil.compareDoubles(n2, 0.0) <= 0) return null
    val norm = java.lang.Math.sqrt(n2)
    val len = e.numElements()
    val dim = Similarity.pqSubDim
    Array.tabulate(Similarity.pqSubspaces) { m =>
      val lo = m * dim
      UnsafeArrayData.fromPrimitiveArray(
        Array.tabulate(math.max(0, math.min(dim, len - lo))) { d =>
          val x = if (e.isNullAt(lo + d)) 0.0
            else if (eDouble) e.getDouble(lo + d) else e.getFloat(lo + d).toDouble
          math.floor(x / norm * Similarity.pqFreezeScale).toLong
        })
    }
  }

  /** `near`: array<struct<p_id, rk>>, the top-`r` assignment. */
  def near(embedding: Column, r: Int): Column =
    ColumnBridge.column(IvfNearKernel(ColumnBridge.expression(embedding), this, r))

  /** `pq`: struct<codes, resid>, null where [[codeOf]] is. */
  def code(embedding: Column): Column =
    ColumnBridge.column(IvfCodeKernel(ColumnBridge.expression(embedding), this))

  /** `lut`: array<bigint>, null where [[lutOf]] is. */
  def lut(embedding: Column): Column =
    ColumnBridge.column(IvfLutKernel(ColumnBridge.expression(embedding), this))

  override def toString: String = s"IvfKernels(nlist=${pivIds.length}, kEff=$kEff)"
}

private[streaming] object IvfKernels {

  val nearType: ArrayType = ArrayType(StructType(Seq(
    StructField("p_id", LongType, nullable = false),
    StructField("rk", IntegerType, nullable = false))), containsNull = false)

  val codeType: StructType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType)),
    StructField("resid", LongType)))

  /** Kernels over collected `piv/` rows (p_id, pe, …) and `cb/` rows
    * (m, c_id, fc, …).
    */
  def apply(piv: Array[Row], cb: Array[Row]): IvfKernels = {
    def floats(v: scala.collection.Seq[Any]): ArrayData =
      if (v == null) null
      else UnsafeArrayData.fromPrimitiveArray(v.map {
        case null => 0f
        case x => x.asInstanceOf[Float]
      }.toArray)
    def longs(v: scala.collection.Seq[Any]): ArrayData =
      UnsafeArrayData.fromPrimitiveArray(v.map {
        case null => 0L
        case x => x.asInstanceOf[Long]
      }.toArray)
    new IvfKernels(
      piv.map(_.getLong(0)), piv.map(r => floats(r.getSeq[Any](1))),
      cb.map(_.getInt(0)), cb.map(_.getInt(1)), cb.map(r => longs(r.getSeq[Any](2))))
  }
}

/** A kernel as a Catalyst expression over an embedding column: evaluated
  * row by row inside the stage (interpreted fallback), against the epoch
  * it closes over.
  */
private[streaming] sealed abstract class IvfKernelExpr extends UnaryExpression with CodegenFallback {
  def kernels: IvfKernels

  protected def elemDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<float|double>, got $t")
    }

  override def eval(input: InternalRow): Any =
    of(child.eval(input).asInstanceOf[ArrayData])

  protected def of(e: ArrayData): Any
}

private[streaming] case class IvfNearKernel(child: Expression, kernels: IvfKernels, r: Int)
    extends IvfKernelExpr {
  override def dataType: DataType = IvfKernels.nearType
  override def nullable: Boolean = false
  protected def of(e: ArrayData): Any = {
    val top = kernels.nearOf(e, elemDouble, r)
    new GenericArrayData(Array.tabulate[Any](top.length)(k => InternalRow(top(k), k + 1)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

private[streaming] case class IvfCodeKernel(child: Expression, kernels: IvfKernels)
    extends IvfKernelExpr {
  override def dataType: DataType = IvfKernels.codeType
  override def nullable: Boolean = true
  protected def of(e: ArrayData): Any = kernels.codeOf(e, elemDouble) match {
    case null => null
    case (codes, resid) => InternalRow(new GenericArrayData(codes), resid)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

private[streaming] case class IvfLutKernel(child: Expression, kernels: IvfKernels)
    extends IvfKernelExpr {
  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = true
  protected def of(e: ArrayData): Any = kernels.lutOf(e, elemDouble) match {
    case null => null
    case lut => new GenericArrayData(lut.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
