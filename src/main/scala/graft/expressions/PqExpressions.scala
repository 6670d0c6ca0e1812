// Hosted under org.apache.spark.sql for the Column↔Expression bridge
// (see VectorExpressions.scala).
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native product-quantization kernels ([[graft.operators.Pq]]). The
  * codebooks (m × k × sub doubles) are driver-side model state embedded in
  * the expression — the [[CharLmScore]] shape: a Column-DSL formulation of
  * the same argmin is an m·k-dot literal TREE that Janino must compile per
  * plan (measured: compilation dominated the train loop and the ADC table
  * build), where these kernels are one tight JVM loop behind a single
  * codegen'd call, keeping whole-stage codegen intact at any m·k.
  *
  * Bit-exactness contract (the `v_pq_check` gates depend on it): every dot
  * product and ‖c‖² is an ascending-index left fold and the per-entry
  * scalar shapes are `‖c‖² − 2·v·c` (assign) and `(q·q − 2·q·c) + ‖c‖²`
  * (table) — identical op order to the broadcast-DataFrame recompute built
  * from [[VectorDotProduct]], so cross-mechanism comparisons demand
  * equality, not tolerance. Argmin ties break to the smallest index
  * (strict `<` scan).
  */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val books: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val cn2: Array[Array[Double]] =
    books.map(_.map(c => c.foldLeft(0.0)((a, x) => a + x * x)))

  def codes(arr: ArrayData): ArrayData = {
    val v = arr.toDoubleArray()
    val m = books.length
    val sub = books(0)(0).length
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      val cb = books(mi)
      var bestJ = 0
      var bestS = Double.PositiveInfinity
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var d = 0.0
        var i = 0
        while (i < sub) { d += v(off + i) * c(i); i += 1 }
        val s = cn2(mi)(j) - 2.0 * d
        if (s < bestS) { bestS = s; bestJ = j }
        j += 1
      }
      out(mi) = bestJ
      mi += 1
    }
    ArrayData.toArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    codes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodesExpr", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.codes($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "pq_codes"
}

/** Per-query ADC distance table: entry [m][j] is the full squared L2
  * distance between the query's m-th subvector and codebook centroid
  * (m, j). Built ONCE per query row; ADC scoring is then `m` array
  * lookups per (query, vector) pair.
  */
case class PqDistTable(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  @transient private lazy val books: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val cn2: Array[Array[Double]] =
    books.map(_.map(c => c.foldLeft(0.0)((a, x) => a + x * x)))

  def table(arr: ArrayData): ArrayData = {
    val v = arr.toDoubleArray()
    val m = books.length
    val sub = books(0)(0).length
    val rows = new Array[AnyRef](m)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      var qq = 0.0
      var i = 0
      while (i < sub) { qq += v(off + i) * v(off + i); i += 1 }
      val cb = books(mi)
      val row = new Array[Double](cb.length)
      var j = 0
      while (j < cb.length) {
        val c = cb(j)
        var qc = 0.0
        i = 0
        while (i < sub) { qc += v(off + i) * c(i); i += 1 }
        row(j) = qq - 2.0 * qc + cn2(mi)(j)
        j += 1
      }
      rows(mi) = ArrayData.toArrayData(row)
      mi += 1
    }
    ArrayData.toArrayData(rows)
  }

  override def nullSafeEval(input: Any): Any =
    table(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqTblExpr", this, classOf[PqDistTable].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.table($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "pq_dist_table"
}

/** Top-`nProbe` coarse cells for a query vector — the LARGE-C probe kernel:
  * the Column-DSL probe (`array_sort` over C literal structs) is a plan
  * tree LINEAR in C, which Janino recompiles per plan and the driver
  * serializes per stage — fine at C ≤ a few hundred, fatal at the
  * C ≈ 2¹⁵–2¹⁸ a billion-vector IVFADC runs. Here the centroids live in
  * the expression OBJECT (shipped once per stage inside the broadcast task
  * binary, exactly like [[PqCodes]]), the plan is one codegen'd call, and
  * selection is a bounded O(C·nProbe) insertion — no sort, no
  * intermediate |Q|·C frame, no shuffle.
  *
  * Bit-parity contract with the literal path (spec-asserted at equal C):
  * per-cell score is the same `‖c‖² − 2·q·c` ascending-index left fold,
  * and the returned cells are ordered by (score, cell) ascending under
  * Spark's SQL double ordering ([[SQLOrderingUtil.compareDoubles]] — the
  * comparator `array_sort` itself uses, so NaN/±0.0 edge cases agree too).
  */
case class CoarseProbe(child: Expression, centroids: Seq[Seq[Double]],
    nProbe: Int) extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val cn2: Array[Double] =
    cents.map(c => c.foldLeft(0.0)((a, x) => a + x * x))

  def probe(arr: ArrayData): ArrayData = {
    val v = arr.toDoubleArray()
    val n = math.min(nProbe, cents.length)
    val bs = new Array[Double](n)
    val bj = new Array[Int](n)
    var filled = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val len = math.min(v.length, c.length)
      var d = 0.0
      var i = 0
      while (i < len) { d += v(i) * c(i); i += 1 }
      val s = cn2(j) - 2.0 * d
      // strict < everywhere: on a score tie the EARLIER (smaller) cell id
      // stays ahead — (score, cell) lexicographic, matching array_sort
      if (filled < n || SQLOrderingUtil.compareDoubles(s, bs(filled - 1)) < 0) {
        var p = if (filled < n) filled else n - 1
        while (p > 0 && SQLOrderingUtil.compareDoubles(s, bs(p - 1)) < 0) {
          bs(p) = bs(p - 1); bj(p) = bj(p - 1); p -= 1
        }
        bs(p) = s; bj(p) = j
        if (filled < n) filled += 1
      }
      j += 1
    }
    ArrayData.toArrayData(if (filled == n) bj else bj.take(filled))
  }

  override def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coarseProbeExpr", this,
      classOf[CoarseProbe].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.probe($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // the default case-class rendering would print all C·dim centroid doubles
  // into every plan string — elide the payload
  override def toString: String =
    s"coarse_probe($child, C=${centroids.size}, nProbe=$nProbe)"
  override def prettyName: String = "coarse_probe"
}

/** `v − centroid(cell)` with the centroid table embedded in the expression —
  * the large-C replacement for `zip_with(v, element_at(typedlit(coarse),
  * cell+1), _-_)`, whose `typedlit` is a C·dim-double Literal serialized
  * into every plan. Mirrors zip_with's length semantics exactly: output
  * length is max of the two, null elements where either side is missing.
  * `cell` is 0-based.
  */
case class CoarseResidual(left: Expression, right: Expression,
    centroids: Seq[Seq[Double]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  def residual(arr: ArrayData, cell: Int): ArrayData = {
    val v = arr.toDoubleArray()
    val c = cents(cell)
    val n = math.max(v.length, c.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (i < v.length && i < c.length) (v(i) - c(i)): java.lang.Double
        else null
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    residual(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("coarseResExpr", this,
      classOf[CoarseResidual].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.residual($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def toString: String =
    s"coarse_residual($left, $right, C=${centroids.size})"
  override def prettyName: String = "coarse_residual"
}

/** Max-cosine cell argmax with embedded centroids — k-means cell
  * assignment ([[graft.operators.Clustering]]), plan size O(1) in k.
  * Per-cell score is `(v·c) / (nrm · ‖c‖)` with an ascending-index dot
  * fold and a driver-side `math.sqrt` norm (0 → 1 guard); a strict
  * compare-greater scan under Spark's SQL double ordering breaks ties to
  * the smallest cell, NaN cases included.
  */
case class CosineArgmaxCell(left: Expression, right: Expression,
    centroids: Seq[Seq[Double]])
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)), DoubleType)
  override def dataType: DataType = IntegerType

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val safeNorm: Array[Double] =
    cents.map { c =>
      val cn = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      if (cn == 0.0) 1.0 else cn
    }
  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def argmax(arr: ArrayData, nrm: Double): Int = {
    val isF = elemIsFloat
    val nv = arr.numElements()
    var bestJ = 0
    var bestS = Double.NegativeInfinity
    var first = true
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(nv, c.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val xv = if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)
        d += xv * c(i)
        i += 1
      }
      val s = d / (nrm * safeNorm(j))
      if (first || SQLOrderingUtil.compareDoubles(s, bestS) > 0) {
        bestS = s; bestJ = j; first = false
      }
      j += 1
    }
    bestJ
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    argmax(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosArgmaxExpr", this,
      classOf[CosineArgmaxCell].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.argmax($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def toString: String =
    s"cosine_argmax_cell($left, $right, k=${centroids.size})"
  override def prettyName: String = "cosine_argmax_cell"
}

object PqExpressions {
  def pqCodes(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExpressionUtils.column(PqCodes(ExpressionUtils.expression(v), codebooks))

  def pqDistTable(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ExpressionUtils.column(PqDistTable(ExpressionUtils.expression(v), codebooks))

  def coarseProbe(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    ExpressionUtils.column(
      CoarseProbe(ExpressionUtils.expression(v), centroids, nProbe))

  def coarseResidual(v: Column, cell: Column,
      centroids: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(CoarseResidual(ExpressionUtils.expression(v),
      ExpressionUtils.expression(cell), centroids))

  def cosineArgmaxCell(v: Column, nrm: Column,
      centroids: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(CosineArgmaxCell(ExpressionUtils.expression(v),
      ExpressionUtils.expression(nrm), centroids))
}
