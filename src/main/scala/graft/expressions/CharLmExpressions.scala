// Hosted under org.apache.spark.sql for the private[sql] type-coercion API
// and the Column↔Expression bridge (see VectorExpressions.scala).
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Score a document under a trained char-bigram LM
  * ([[graft.ops.CharLm]]) in one per-row pass: normalize (shared chain),
  * then sum the micro-nat quantized log-prob of every adjacent character
  * pair whose BOTH chars are in the model alphabet (out-of-alphabet pairs
  * are skipped, counted by neither output). Returns
  * `struct(n_bi BIGINT, sum_q BIGINT)` — integer outputs, so the score is
  * exactly reproducible by the SQL oracle regardless of summation order.
  *
  * The model (alphabet + |A|² long table) is a driver literal: scoring
  * 100 TB is a zero-shuffle whole-stage-codegen projection, like
  * [[BpeEncode]].
  */
case class CharLmScore(child: Expression, alphabet: String, tableQ: Seq[Long])
    extends UnaryExpression with ExpectsInputTypes {

  require(tableQ.length == alphabet.length * alphabet.length,
    s"table must be |A|^2 = ${alphabet.length * alphabet.length}, " +
      s"got ${tableQ.length}")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_bi", LongType, nullable = false),
    StructField("sum_q", LongType, nullable = false)))

  @transient private lazy val table: Array[Long] = tableQ.toArray

  // normalize emits only [a-z0-9 ], so a dense ASCII index covers the
  // alphabet; any other char is out of it
  @transient private lazy val asciiIdx: Array[Int] = {
    val a = Array.fill(128)(-1)
    alphabet.zipWithIndex.foreach { case (c, i) => if (c < 128) a(c) = i }
    a
  }

  private def idxOf(c: Char): Int = if (c < 128) asciiIdx(c) else -1

  def score(input: UTF8String): InternalRow = {
    val normalized = TextNormalize.normalize(input)
    val a = alphabet.length
    var n = 0L
    var sum = 0L
    var i = 0
    val len = normalized.length
    while (i < len - 1) {
      val i1 = idxOf(normalized.charAt(i))
      val i2 = idxOf(normalized.charAt(i + 1))
      if (i1 >= 0 && i2 >= 0) {
        n += 1L
        sum += table(i1 * a + i2)
      }
      i += 1
    }
    InternalRow(n, sum)
  }

  override def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charLmExpr", this, classOf[CharLmScore].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.score($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_lm_score"
}

/** Adjacent character pairs of the normalized text as an array of 2-char
  * strings, one linear pass per row. The Column-DSL formulation
  * (posexplode chars + substring at each index) re-scans the string per
  * position — O(len²) per document; this is the count-pass feeder for
  * [[graft.ops.CharLm]] so it must be linear.
  */
case class CharBigrams(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def bigramsOf(input: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val normalized = TextNormalize.normalize(input)
    val len = normalized.length
    val n = math.max(len - 1, 0)
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      out(i) = UTF8String.fromString(normalized.substring(i, i + 2))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    bigramsOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charBigramsExpr", this, classOf[CharBigrams].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.bigramsOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_bigrams"
}

object CharLmExpressions {
  /** Column-level adjacent-char pairs backed by [[CharBigrams]]. */
  def charBigrams(text: Column): Column =
    ExpressionUtils.column(CharBigrams(ExpressionUtils.expression(text)))

  /** Column-level LM scoring backed by [[CharLmScore]]. */
  def charLmScore(text: Column, model: graft.ops.CharLm.Model): Column =
    ExpressionUtils.column(CharLmScore(
      ExpressionUtils.expression(text), model.alphabet, model.tableQ))
}
