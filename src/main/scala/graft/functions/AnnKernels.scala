package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._

/**
 * Codegen'd kernels for the ANN tier hot paths — the [[RepStats]] pattern
 * applied to the quantizer family (round 19). Each replaces an interpreted
 * higher-order-function expression tree whose literals (codebooks,
 * centroids) previously rode as hundreds of `typedlit` array nodes:
 *
 *  - the HOF lambdas (`transform`, `aggregate`, `array_sort` comparators)
 *    evaluate INTERPRETED, allocating per element, while these are single
 *    static calls inside whole-stage codegen;
 *  - the model state (m×k codebooks, nlist centroids) moves from the
 *    expression TREE into plain constructor state referenced via
 *    `ctx.addReferenceObj`, so per-invocation Dataset analysis stops
 *    re-walking thousands of literal nodes (the q_ann_recall
 *    fn-construction cost measured in round 18/19).
 *
 * Semantics are pinned BIT-IDENTICAL to the expression forms they replace
 * (AnnKernelsSpec asserts equality against the retained reference forms):
 * every dot product accumulates `float.toDouble` products in ascending
 * index order exactly like [[VectorOps.dot]], argmaxes keep the FIRST
 * (lowest-index) winner on strictly-equal scores exactly like the
 * `when(x > best, x)` folds and the stable `array_sort` comparators, and
 * the ADC sum is the same left fold from 0.0d.
 */
object AnnKernels {

  /** L2-normalize: x_i / sqrt(Σ x²) as float, zero vectors unchanged —
    * the [[graft.operators.PqIndex]] `normed` contract. The norm is
    * computed ONCE per row (the interpreted `transform` form re-evaluated
    * the inlined Σ x² dot per element reference — up to 128× per row). */
  def l2normalize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var n2 = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; n2 += x * x; i += 1 }
    if (n2 == 0.0) return v
    val inv = math.sqrt(n2)
    val out = new Array[Float](n)
    i = 0
    while (i < n) { out(i) = (v.getFloat(i).toDouble / inv).toFloat; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-subspace nearest-codeword ids (argmax of dot − ½|c|², ties →
    * lowest code) — [[graft.operators.PqIndex]] `codesColumn`. A vector
    * shorter than m×subDim is truncated like the reference's `slice`:
    * missing elements contribute nothing to the dot. */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Float]]],
      halves: Array[Array[Double]]): ArrayData = {
    val m = books.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      val half = halves(s)
      val subDim = book(0).length
      val off = s * subDim
      val n = math.min(subDim, v.numElements() - off)
      var bestScore = 0.0
      var bestJ = 0
      var j = 0
      while (j < book.length) {
        val cw = book(j)
        var d = 0.0
        var i = 0
        while (i < n) { d += v.getFloat(off + i).toDouble * cw(i).toDouble; i += 1 }
        val score = d - half(j)
        if (j == 0 || score > bestScore) { bestScore = score; bestJ = j }
        j += 1
      }
      out(s) = bestJ
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** (m × k) ADC lookup tables for a query vector — entry (s, j) is the
    * subvector-s dot codeword j ([[graft.operators.PqIndex]]
    * `adcTablesColumn`); short vectors truncate as in [[pqEncode]]. */
  def adcTables(v: ArrayData, books: Array[Array[Array[Float]]]): ArrayData = {
    val m = books.length
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      val subDim = book(0).length
      val off = s * subDim
      val n = math.min(subDim, v.numElements() - off)
      val row = new Array[Double](book.length)
      var j = 0
      while (j < book.length) {
        val cw = book(j)
        var d = 0.0
        var i = 0
        while (i < n) { d += v.getFloat(off + i).toDouble * cw(i).toDouble; i += 1 }
        row(j) = d
        j += 1
      }
      out(s) = UnsafeArrayData.fromPrimitiveArray(row)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score: left fold from 0.0 of tables(i)(codes(i)) in ascending i —
    * the pinned add order of the `aggregate(zip_with(...))` form. Returns
    * null on a length mismatch, a null element, or a code outside
    * [0, table size). The reference form differs outside that range: its
    * `element_at(tb, code + 1)` throws for code −1 (and, under ANSI, for
    * codes past the table) and indexes from the end for codes below −1.
    * [[pqEncode]] never emits such codes. */
  def adcScore(codes: ArrayData, tables: ArrayData): java.lang.Double = {
    val nc = codes.numElements()
    val nt = tables.numElements()
    if (nc != nt) return null
    var s = 0.0
    var i = 0
    while (i < nc) {
      if (codes.isNullAt(i) || tables.isNullAt(i)) return null
      val tb = tables.getArray(i)
      val idx = codes.getInt(i)
      if (idx < 0 || idx >= tb.numElements() || tb.isNullAt(idx)) return null
      s += tb.getDouble(idx)
      i += 1
    }
    s
  }

  /** Nearest-centroid argmax (dot desc, ties → lowest cell) —
    * [[graft.operators.IvfIndex]] `nearestCell`. */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Float]]): Int = {
    var bestScore = 0.0
    var bestC = 0
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      val n = math.min(v.numElements(), ct.length)
      var d = 0.0
      var i = 0
      while (i < n) { d += v.getFloat(i).toDouble * ct(i).toDouble; i += 1 }
      if (c == 0 || d > bestScore) { bestScore = d; bestC = c }
      c += 1
    }
    bestC
  }

  /** The nprobe closest cells as (score, cell) structs, score desc with
    * the stable tie order (ascending cell — `array_sort`'s comparator
    * returned 0 on score ties and TimSort is stable) —
    * [[graft.operators.IvfIndex]] `probeCellsColumn`. */
  def probeCells(v: ArrayData, cents: Array[Array[Float]], nprobe: Int): ArrayData = {
    val nlist = cents.length
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val ct = cents(c)
      val n = math.min(v.numElements(), ct.length)
      var d = 0.0
      var i = 0
      while (i < n) { d += v.getFloat(i).toDouble * ct(i).toDouble; i += 1 }
      scores(c) = d
      c += 1
    }
    val idx = new Array[Integer](nlist)
    c = 0
    while (c < nlist) { idx(c) = c; c += 1 }
    // exact mirror of the when-comparator: strictly-greater/-less only,
    // everything else (including NaN) ties → stable = ascending cell
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val sa = scores(a); val sb = scores(b)
        if (sa > sb) -1 else if (sa < sb) 1 else a - b
      }
    })
    val take = math.min(nprobe, nlist)
    val out = new Array[Any](take)
    c = 0
    while (c < take) {
      out(c) = new GenericInternalRow(Array[Any](scores(idx(c)), idx(c).intValue()))
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Shared shape checks for the float-vector kernels. */
private[functions] trait FloatArrayInput { self: Expression =>
  protected def inputName: String
  protected def vecType: DataType
  protected def checkFloatArray(): TypeCheckResult = vecType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$inputName requires ARRAY<FLOAT> input, got ${t.sql}")
  }
}

case class L2Normalize(child: Expression)
    extends UnaryExpression with FloatArrayInput {
  override protected def inputName: String = "l2_normalize"
  override protected def vecType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArray()
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "l2_normalize"
  override def nullSafeEval(input: Any): Any =
    AnnKernels.l2normalize(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AnnKernels.l2normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

case class PqEncode(child: Expression, books: Seq[Seq[Seq[Float]]])
    extends UnaryExpression with FloatArrayInput {
  require(books.nonEmpty && books.forall(_.nonEmpty), "empty codebooks")
  override protected def inputName: String = "pq_encode"
  override protected def vecType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArray()
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  @transient private lazy val booksArr: Array[Array[Array[Float]]] =
    books.map(_.map(_.toArray).toArray).toArray
  // ½|c|² with the driver-side fold order of PqIndex.halfSq (Seq.sum is a
  // left fold), so score = dot − half matches the expression form exactly
  @transient private lazy val halvesArr: Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x.toDouble * x).sum / 2.0).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    AnnKernels.pqEncode(input.asInstanceOf[ArrayData], booksArr, halvesArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", booksArr, "float[][][]")
    val h = ctx.addReferenceObj("pqHalves", halvesArr, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.AnnKernels.pqEncode($c, $b, $h)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

case class AdcTables(child: Expression, books: Seq[Seq[Seq[Float]]])
    extends UnaryExpression with FloatArrayInput {
  require(books.nonEmpty && books.forall(_.nonEmpty), "empty codebooks")
  override protected def inputName: String = "adc_tables"
  override protected def vecType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArray()
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "adc_tables"

  @transient private lazy val booksArr: Array[Array[Array[Float]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    AnnKernels.adcTables(input.asInstanceOf[ArrayData], booksArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("adcBooks", booksArr, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.AnnKernels.adcTables($c, $b)")
  }
  override protected def withNewChildInternal(newChild: Expression): AdcTables =
    copy(child = newChild)
}

case class AdcScore(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"adc_score requires (ARRAY<INT>, ARRAY<ARRAY<DOUBLE>>), got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  override def nullSafeEval(codes: Any, tables: Any): Any =
    AnnKernels.adcScore(codes.asInstanceOf[ArrayData], tables.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      s"""
      java.lang.Double ${ev.value}_r = graft.functions.AnnKernels.adcScore($c, $t);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
      """
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

case class NearestCentroid(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression with FloatArrayInput {
  require(centroids.nonEmpty, "empty centroid list")
  override protected def inputName: String = "nearest_centroid"
  override protected def vecType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArray()
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val centsArr: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    AnnKernels.nearestCentroid(input.asInstanceOf[ArrayData], centsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centsArr, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.AnnKernels.nearestCentroid($c, $cs)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

case class ProbeCells(child: Expression, centroids: Seq[Seq[Float]], nprobe: Int)
    extends UnaryExpression with FloatArrayInput {
  require(centroids.nonEmpty, "empty centroid list")
  require(nprobe >= 1, "nprobe must be >= 1")
  override protected def inputName: String = "probe_cells"
  override protected def vecType: DataType = child.dataType
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArray()
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("cell", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "probe_cells"

  @transient private lazy val centsArr: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    AnnKernels.probeCells(input.asInstanceOf[ArrayData], centsArr, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("probeCentroids", centsArr, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.AnnKernels.probeCells($c, $cs, $nprobe)")
  }
  override protected def withNewChildInternal(newChild: Expression): ProbeCells =
    copy(child = newChild)
}

object AnnKernelFunctions {
  def l2_normalize(v: Column): Column =
    Shims.column(L2Normalize(Shims.expression(v)))
  def pq_encode(v: Column, books: Seq[Seq[Seq[Float]]]): Column =
    Shims.column(PqEncode(Shims.expression(v), books))
  def adc_tables(v: Column, books: Seq[Seq[Seq[Float]]]): Column =
    Shims.column(AdcTables(Shims.expression(v), books))
  def adc_score(codes: Column, tables: Column): Column =
    Shims.column(AdcScore(Shims.expression(codes), Shims.expression(tables)))
  def nearest_centroid(v: Column, centroids: Seq[Seq[Float]]): Column =
    Shims.column(NearestCentroid(Shims.expression(v), centroids))
  def probe_cells(v: Column, centroids: Seq[Seq[Float]], nprobe: Int): Column =
    Shims.column(ProbeCells(Shims.expression(v), centroids, nprobe))
}
