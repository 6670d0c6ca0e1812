// Hosted under org.apache.spark.sql for the private[sql] type-coercion API
// and the Column↔Expression bridge (see VectorExpressions.scala).
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Apply a LEARNED unigram-LM tokenizer ([[graft.ops.UnigramLm]]) to a
  * text column in one per-row pass: normalize (shared chain with
  * [[ShingleArray]]), whitespace-tokenize, and Viterbi-segment each word
  * under the model's integer micro-nat piece log-probs (ties to the larger
  * split point — the training DP's own rule). Characters absent from the
  * model consume a single-char OOV arc under `oovPenalty` and emit
  * themselves, so encoding is total and round-trips:
  * concat(tokens) == strip-spaces(normalize(text)).
  *
  * The (piece, log-prob) table is a DRIVER LITERAL baked into the
  * expression (the [[BpeEncode]] pattern): encoding 100 TB is a
  * zero-shuffle whole-stage-codegen projection; the only non-local state
  * is the task binary.
  */
case class UnigramEncode(child: Expression, pieces: Seq[(String, Long)],
    maxPieceLen: Int = 4, oovPenalty: Long = -30000000L)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val lp: Map[String, Long] = pieces.toMap

  def encode(input: UTF8String): ArrayData = {
    val normalized = TextNormalize.normalize(input)
    val out = new java.util.ArrayList[UTF8String]()
    if (normalized.nonEmpty) {
      val words = normalized.split(" ", -1)
      var i = 0
      while (i < words.length) {
        graft.ops.UnigramLm.viterbi(words(i), lp, maxPieceLen, oovPenalty)
          .foreach(p => out.add(UTF8String.fromString(p)))
        i += 1
      }
    }
    ArrayData.toArrayData(out.toArray(Array.empty[AnyRef]))
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramExpr", this, classOf[UnigramEncode].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.encode($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unigram_encode"
}

object UnigramLmExpressions {
  /** Column-level unigram-LM encoding backed by [[UnigramEncode]];
    * `pieces` = (piece, micro-nat log-prob).
    */
  def unigramEncode(text: Column, pieces: Seq[(String, Long)],
      maxPieceLen: Int = 4, oovPenalty: Long = -30000000L): Column =
    ExpressionUtils.column(UnigramEncode(
      ExpressionUtils.expression(text), pieces, maxPieceLen, oovPenalty))
}
