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

/** Apply a LEARNED BPE merge table to a text column in one per-row pass:
  * normalize (shared chain with [[ShingleArray]]), whitespace-tokenize, and
  * encode each word greedily — repeatedly merge the lowest-rank adjacent
  * pair until no ranked pair remains (the standard apply rule, provably
  * equivalent to replaying the merges in training order). Emits the token
  * stream for the whole document in order.
  *
  * The merge table is a DRIVER LITERAL baked into the expression (the
  * k-means-centroid pattern): encoding 100 TB is a zero-shuffle
  * whole-stage-codegen projection; the only non-local state is the task
  * binary. Rank lookup is one HashMap probe per adjacent pair per round;
  * unseen characters pass through as single-char tokens, so encoding is
  * total and round-trips: concat(tokens) == strip-spaces(normalize(text)).
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + " " + b, Int.box(i))
    }
    m
  }

  private def encodeWord(word: String,
      out: java.util.ArrayList[UTF8String]): Unit = {
    var syms = word.map(_.toString).toArray
    var loop = true
    while (loop && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestJ = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestJ = j
        }
        j += 1
      }
      if (bestJ < 0) loop = false
      else syms = graft.ops.Bpe.mergePair(syms, (syms(bestJ), syms(bestJ + 1)))
    }
    var k = 0
    while (k < syms.length) {
      out.add(UTF8String.fromString(syms(k))); k += 1
    }
  }

  def encode(input: UTF8String): ArrayData = {
    val normalized = TextNormalize.normalize(input)
    val out = new java.util.ArrayList[UTF8String]()
    if (normalized.nonEmpty) {
      val words = normalized.split(" ", -1)
      var i = 0
      while (i < words.length) { encodeWord(words(i), out); i += 1 }
    }
    ArrayData.toArrayData(out.toArray(Array.empty[AnyRef]))
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeExpr", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.encode($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode"
}

object BpeExpressions {
  /** Column-level BPE encoding backed by [[BpeEncode]]. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    ExpressionUtils.column(BpeEncode(ExpressionUtils.expression(text), merges))
}
