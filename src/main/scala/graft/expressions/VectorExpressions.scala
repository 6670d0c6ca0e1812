// Hosted under org.apache.spark.sql so the expression can use the
// private[sql] type-coercion API (AbstractDataType / TypeCollection) and the
// Column↔Expression bridge — the standard packaging for Spark-native
// extension expressions.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression for the dense-vector dot product.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is a
  * `CodegenFallback`: every pair evaluation walks an interpreted expression
  * tree and allocates an intermediate array — at 10⁷+ candidate pairs (any
  * brute-force or bucketed similarity join) that dominates the query. This
  * expression compiles to a tight primitive loop inside whole-stage codegen:
  * no allocation, no virtual dispatch.
  *
  * Determinism contract (shared with the DuckDB oracle and the HOF
  * formulation): each element is widened to double BEFORE the multiply and
  * products accumulate sequentially in index order — bit-identical results
  * everywhere.
  *
  * Null semantics: null array → null result; null ELEMENTS are not expected
  * in embedding columns and read as 0.0 (ArrayData primitive accessor).
  */
case class VectorDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Native dot product over int8-quantized vectors: array<tinyint> ×
  * array<tinyint> → long (Σ qa·qb, exact — 127·127·dim is far inside long
  * range). The approximate-scoring pass of a quantized search runs this
  * once per candidate pair, so like [[VectorDotProduct]] it must be a tight
  * codegen loop, not an interpreted HOF. Null array → null; byte elements
  * read directly (no boxing, no widening conversions in the loop beyond the
  * int multiply).
  */
case class Int8DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(ByteType))

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getByte(i).toLong * y.getByte(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((long) $a.getByte($i)) * $b.getByte($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "int8_dot"
}

/** Shared normalize chain for the text-sketch expressions: lower (UTF8String
  * semantics = Spark `lower`), strip non-[a-z0-9 ], squeeze spaces, trim.
  * The regex Patterns are compiled once per JVM — these expressions exist
  * specifically to make the per-row path cheap, so no per-row Pattern
  * recompilation (String.replaceAll compiles its pattern on every call).
  */
private[graftx] object TextNormalize {
  private val NonAlnum = java.util.regex.Pattern.compile("[^a-z0-9 ]")
  private val MultiSpace = java.util.regex.Pattern.compile(" +")
  // Unicode word characters: any letter or number category. Java's \p{L} /
  // \p{N} are Unicode general categories (no flag needed) and RE2 (DuckDB's
  // regex engine) accepts the same classes — the oracle mirror is exact.
  private val NonWord = java.util.regex.Pattern.compile("[^\\p{L}\\p{N} ]")

  def normalize(s: org.apache.spark.unsafe.types.UTF8String): String = {
    val lowered = s.toLowerCase.toString
    MultiSpace.matcher(NonAlnum.matcher(lowered).replaceAll(""))
      .replaceAll(" ").trim
  }

  /** Unicode-aware normalize: NFKC compose (which also folds
    * compatibility forms — ligatures, full-width), lowercase (Locale.ROOT —
    * locale-independent, unlike `String.toLowerCase()`'s default-locale
    * surprise), keep only letters/numbers/space, squeeze, trim. A CJK or
    * accented document survives this chain — the ASCII [[normalize]] maps
    * it to "" and makes every sketch silently blind to non-English corpora.
    *
    * Oracle contract: on text free of compatibility characters (where
    * NFKC ≡ NFC) this is `trim(regexp_replace(regexp_replace(
    * lower(nfc_normalize(x)), '[^\p{L}\p{N} ]', '', 'g'), ' +', ' ', 'g'))`
    * in DuckDB, which has no NFKC function; the NFKC extras are spec-locked
    * engine-side instead.
    */
  def normalizeUnicode(s: org.apache.spark.unsafe.types.UTF8String): String = {
    val composed = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFKC)
    val lowered = composed.toLowerCase(java.util.Locale.ROOT)
    MultiSpace.matcher(NonWord.matcher(lowered).replaceAll(""))
      .replaceAll(" ").trim
  }
}

/** Unicode-aware text normalization as a single per-row native evaluation:
  * NFKC compose + Locale.ROOT lowercase + strip non-\p{L}\p{N} + space
  * squeeze + trim (see [[TextNormalize.normalizeUnicode]] for the exact
  * chain and the DuckDB oracle mirror). There is no Spark built-in for
  * Unicode normalization forms, so the Column-DSL cannot express this —
  * a native expression is the only UDF-free formulation.
  */
case class UnicodeNormalizeText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  def normalizedOf(input: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      TextNormalize.normalizeUnicode(input))

  override def nullSafeEval(input: Any): Any =
    normalizedOf(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("uniNormExpr", this, classOf[UnicodeNormalizeText].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.normalizedOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unicode_normalize_text"
}

/** MinHash signature of a string-array column: `numHashes` min-hash values
  * per row, output as array<long>.
  *
  * One strong xxhash64 per element, then a universal-hash family
  * `h_j = base·A_j + B_j` (odd multipliers from splitmix64, wrapping Long
  * arithmetic) derives the remaining hashes — numHashes × |elements| cheap
  * mixes instead of full re-hashes, and no per-call interpreted expression
  * walk like the `transform(... xxhash64 ...)` HOF formulation. Evaluation is
  * a tight Scala loop; codegen emits one call to [[signatureOf]] via a
  * reference object, so the enclosing operators stay in one
  * whole-stage-codegen span instead of falling back to interpreted mode.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // splitmix64-derived multipliers (forced odd) and offsets
  private lazy val mulAdd: (Array[Long], Array[Long]) = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val a = Array.tabulate(numHashes)(j => splitmix(2L * j) | 1L)
    val b = Array.tabulate(numHashes)(j => splitmix(2L * j + 1))
    (a, b)
  }

  def signatureOf(arr: ArrayData): ArrayData = {
    val (mul, add) = mulAdd
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val base = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(arr.getUTF8String(i), StringType, 42L)
      var j = 0
      while (j < numHashes) {
        val h = base * mul(j) + add(j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    signatureOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashExpr", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.signatureOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** Normalize → whitespace-tokenize → distinct word-n-gram shingles, in one
  * per-row evaluation.
  *
  * The Column-DSL formulation (regex chain + split + transform/element_at)
  * re-evaluates the tokenization under every element_at reference after
  * CollapseProject inlines the shared projection — O(|shingles|) regex passes
  * per row. This expression runs the whole chain once per row in Scala.
  *
  * Semantics contract (must stay aligned with TextFunctions.normalize /
  * tokens and the DuckDB oracle SQL): UTF8String.toLowerCase (= Spark
  * `lower`), Java regex `[^a-z0-9 ]` → "", `" +"` → " ", trim, split on
  * single space, n-gram join with single space, first-occurrence-distinct
  * (or every position in order when `distinct = false` — positional
  * dup-span counting needs the multiplicity).
  */
case class ShingleArray(child: Expression, n: Int, unicode: Boolean = false,
    distinct: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def shinglesOf(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val normalized = if (unicode) TextNormalize.normalizeUnicode(input)
      else TextNormalize.normalize(input)
    val out: java.util.Collection[org.apache.spark.unsafe.types.UTF8String] =
      if (distinct) new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      else new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String]()
    if (normalized.nonEmpty) {
      val toks = normalized.split(" ", -1)
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        out.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(Array.empty[AnyRef]))
  }

  override def nullSafeEval(input: Any): Any =
    shinglesOf(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleExpr", this, classOf[ShingleArray].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.shinglesOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingle_array"
}

/** 64-bit SimHash of a text column in one per-row evaluation: normalize +
  * tokenize (same contract as [[ShingleArray]]), one xxhash64 per token
  * (seed 42 = Spark's `xxhash64`), ±1 vote per bit, sign-packed MSB-first
  * exactly like the HOF formulation in Dedup.simhash64Hof. The HOF version
  * costs 64 × |tokens| interpreted expression walks per row and gets
  * re-inlined into every plan site that references the column.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  def simhashOf(input: org.apache.spark.unsafe.types.UTF8String): Long = {
    val normalized = TextNormalize.normalize(input)
    val counts = new Array[Int](64)
    if (normalized.nonEmpty) {
      val toks = normalized.split(" ", -1)
      var i = 0
      while (i < toks.length) {
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)),
            StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
    }
    var acc = 0L
    var b = 0
    while (b < 64) { acc = (acc << 1) | (if (counts(b) >= 0) 1L else 0L); b += 1 }
    acc
  }

  override def nullSafeEval(input: Any): Any =
    simhashOf(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashExpr", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.simhashOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** 64-bit rolling (order-sensitive) fingerprint of a text column in one
  * per-row evaluation: normalize + tokenize (same contract as
  * [[ShingleArray]]), then chain acc ← xxhash64(acc, token) starting from 0
  * — exactly the two-arg Spark `xxhash64` semantics (hash the long acc with
  * seed 42, then the token string with that result as seed), so it is
  * bit-identical to the HOF formulation in
  * `TextFunctions.rollingFingerprintHof`.
  */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  def fingerprintOf(input: org.apache.spark.unsafe.types.UTF8String): Long = {
    val normalized = TextNormalize.normalize(input)
    var acc = 0L
    if (normalized.nonEmpty) {
      val toks = normalized.split(" ", -1)
      var i = 0
      while (i < toks.length) {
        val seeded = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(acc, LongType, 42L)
        acc = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)),
            StringType, seeded)
        i += 1
      }
    }
    acc
  }

  override def nullSafeEval(input: Any): Any =
    fingerprintOf(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollingFpExpr", this, classOf[RollingFingerprint].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.fingerprintOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "rolling_fingerprint"
}

/** Banded random-hyperplane LSH buckets of a dense vector: `bands`
  * signatures of `bitsPerBand` sign bits each (plane index = band*bitsPerBand
  * + j), output as array<long>.
  *
  * Bit-exact with the HOF formulation (`VectorFunctions
  * .hyperplaneBandBucketsHof`): plane weights are (pmod(xxhash64(p, i),
  * 2001) − 1000)/1000 with p, i hashed as ints seeded 42 (= Spark's
  * two-arg `xxhash64`), elements widen to double before the multiply,
  * products accumulate in index order, sign bits pack MSB-first. The HOF
  * version re-derives every weight per ROW through an interpreted
  * expression walk (planes × dim hash calls per row); here the weight
  * matrix is computed once per (dim) and cached, so each row is a dense
  * planes×dim multiply in a tight loop.
  */
case class HyperplaneBands(child: Expression, bands: Int, bitsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // weight matrix per vector dimensionality, plane-major; one entry in
  // practice (embedding dims are homogeneous), ConcurrentHashMap for safety
  @transient private lazy val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def weights(dim: Int): Array[Double] =
    weightCache.computeIfAbsent(dim, { d =>
      val planes = bands * bitsPerBand
      val w = new Array[Double](planes * d)
      var p = 0
      while (p < planes) {
        val seedP = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(p, IntegerType, 42L)
        var i = 0
        while (i < d) {
          val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(i, IntegerType, seedP)
          val m = ((h % 2001L) + 2001L) % 2001L
          w(p * d + i) = (m.toDouble - 1000.0) / 1000.0
          i += 1
        }
        p += 1
      }
      w
    })

  def bandsOf(input: ArrayData): ArrayData = {
    val arr = input
    val dim = arr.numElements()
    val isFloat = elemIsFloat
    val v = new Array[Double](dim)
    var i = 0
    var hasNullElem = false
    while (i < dim) {
      if (arr.isNullAt(i)) hasNullElem = true
      else v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    // HOF semantics: a null element nulls every plane's dot, and
    // `when(dot >= 0, 1).otherwise(0)` turns a null dot into bit 0 — so the
    // whole signature collapses to all-zero buckets. Match that exactly.
    if (hasNullElem)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        new Array[Long](bands))
    val w = weights(dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var j = 0
      while (j < bitsPerBand) {
        val base = (b * bitsPerBand + j) * dim
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += v(k) * w(base + k); k += 1 }
        acc = (acc << 1) | (if (dot >= 0) 1L else 0L)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    bandsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneExpr", this, classOf[HyperplaneBands].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.bandsOf($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_bands"
}

object VectorExpressions {
  /** Column-level dot product backed by [[VectorDotProduct]]. */
  def vecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(VectorDotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level int8 dot product backed by [[Int8DotProduct]]. */
  def int8Dot(a: Column, b: Column): Column =
    ExpressionUtils.column(Int8DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level MinHash signature backed by [[MinHashSignature]]. */
  def minhash(a: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(a), numHashes))

  /** Column-level distinct word-n-gram shingles backed by [[ShingleArray]].
    * `unicode = true` switches to the NFKC + \p{L}\p{N} normalize chain.
    */
  def shingleArr(text: Column, n: Int, unicode: Boolean = false): Column =
    ExpressionUtils.column(ShingleArray(ExpressionUtils.expression(text), n, unicode))

  /** Positional (non-distinct) word-n-gram shingles: one element per gram
    * POSITION, document order, multiplicity kept — for dup-span counting.
    */
  def shingleArrAll(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleArray(ExpressionUtils.expression(text), n,
      distinct = false))

  /** Column-level 64-bit SimHash backed by [[SimHash64]]. */
  def simhash(text: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(text)))

  /** Column-level banded hyperplane buckets backed by [[HyperplaneBands]]. */
  def hyperplaneBands(v: Column, bands: Int, bitsPerBand: Int): Column =
    ExpressionUtils.column(HyperplaneBands(
      ExpressionUtils.expression(v), bands, bitsPerBand))

  /** Column-level rolling fingerprint backed by [[RollingFingerprint]]. */
  def rollingFp(text: Column): Column =
    ExpressionUtils.column(RollingFingerprint(ExpressionUtils.expression(text)))

  /** Column-level Unicode normalization backed by [[UnicodeNormalizeText]]. */
  def normalizeUnicode(text: Column): Column =
    ExpressionUtils.column(UnicodeNormalizeText(ExpressionUtils.expression(text)))
}
