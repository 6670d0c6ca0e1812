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

/** Content-defined chunking of the normalized text: split at positions
  * where a polynomial rolling hash of the trailing `window` chars hits a
  * `1/2^maskBits` condition, bounded by [minLen, maxLen].
  *
  * Why content-defined instead of fixed-width: a one-character edit shifts
  * every fixed-width chunk after it, so nothing downstream dedups; CDC
  * boundaries depend only on a LOCAL window, so after any edit the chunk
  * stream resynchronizes within roughly one chunk — two near-identical
  * documents share their interior chunks verbatim, and chunk-level exact
  * dedup (a hash groupBy, already in the engine) recovers the overlap.
  * This is the storage/transfer dedup unit (LBFS/rsync lineage) applied to
  * corpus text.
  *
  * Determinism: the hash is a fixed-base polynomial over char codes in
  * natural long overflow — no seeds, no per-JVM state; boundaries are a
  * pure function of content, so retries, partitionings, and engines agree.
  * One linear pass per row (the per-position Column-DSL alternative is
  * O(len²) — see [[CharBigrams]]).
  */
case class CdcChunks(child: Expression, window: Int = 16, maskBits: Int = 6,
    minLen: Int = 32, maxLen: Int = 256)
    extends UnaryExpression with ExpectsInputTypes {

  require(window >= 2 && maskBits >= 1 && minLen >= window &&
    maxLen > minLen,
    s"invalid CDC params: window=$window maskBits=$maskBits " +
      s"minLen=$minLen maxLen=$maxLen")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val Base = 1000003L
  @transient private lazy val basePowW: Long = {
    var p = 1L
    var i = 0
    while (i < window) { p *= Base; i += 1 }
    p
  }
  private val mask = (1L << maskBits) - 1L

  def chunksOf(input: UTF8String): ArrayData = {
    val t = TextNormalize.normalize(input)
    val len = t.length
    val out = new java.util.ArrayList[UTF8String]()
    var start = 0
    var h = 0L
    var i = 0
    while (i < len) {
      h = h * Base + t.charAt(i)
      if (i - start + 1 > window) h -= basePowW * t.charAt(i - window)
      val chunkLen = i - start + 1
      if (chunkLen >= maxLen ||
        (chunkLen >= minLen && (h & mask) == 0L)) {
        out.add(UTF8String.fromString(t.substring(start, i + 1)))
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < len) out.add(UTF8String.fromString(t.substring(start, len)))
    ArrayData.toArrayData(out.toArray(Array.empty[AnyRef]))
  }

  override def nullSafeEval(input: Any): Any =
    chunksOf(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cdcExpr", this, classOf[CdcChunks].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.chunksOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "cdc_chunks"
}

object ChunkExpressions {
  /** Column-level content-defined chunks backed by [[CdcChunks]]. */
  def cdcChunks(text: Column, window: Int = 16, maskBits: Int = 6,
      minLen: Int = 32, maxLen: Int = 256): Column =
    ExpressionUtils.column(CdcChunks(
      ExpressionUtils.expression(text), window, maskBits, minLen, maxLen))
}
