package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helper for [[WordKGrams]] — a plain static method so generated
  * Java can call it directly (`graft.functions.TextExprUtil.kgrams(...)`).
  * Operates on `UTF8String`s in place: no UTF8→java.lang.String conversion
  * anywhere, which is the cost a Scala UDF would pay per row. */
object TextExprUtil {
  private val Space = UTF8String.fromString(" ")

  /** All consecutive k-grams of `arr` in element order, space-joined.
    * Fewer than k elements ⇒ empty array (complete k-grams only — the same
    * boundary rule as the window-lead relational form it replaces). */
  def kgrams(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - k + 1)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Seed of every hash here: the seed of Spark's `xxhash64`, so a kernel
    * value equals the relational `xxhash64(...)` of the same input. */
  private val Seed = 42L
  private val P = 2147483647L // 2^31 - 1

  private val coefficientMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]

  /** The MinHash family h_i(x) = (a_i·x + b_i) mod p, p = 2^31−1, as its
    * `a` and `b` arrays — the one definition of the coefficients. A proper
    * universal family: without the modular reduction the affine map is
    * monotonic, every h_i selects the same argmin shingle, and the
    * "independent" hashes collapse to one. Memoized per size so every
    * expression instance shares the same arrays. */
  def minhashCoefficients(numHashes: Int): (Array[Long], Array[Long]) =
    coefficientMemo.computeIfAbsent(numHashes, { n =>
      val rnd = new scala.util.Random(42L)
      val ab = Array.fill(n)(
        (rnd.nextInt(Int.MaxValue).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
      (ab.map(_._1), ab.map(_._2))
    })

  /** MinHash signature of a shingle array: for each (a_i, b_i),
    * min over shingles of ((XXH64(sh) & 0x7FFFFFFF)·a_i + b_i) mod p.
    * h < 2^31 and a_i, b_i < 2^31, so h·a_i + b_i < 2^63 never overflows
    * and `%` is the non-negative `pmod`. Repeated shingles leave every min
    * unchanged, so no distinct pass is needed. Null for an array with no
    * shingle: a min over nothing is undefined, and such a document has no
    * signature. */
  def minhash(grams: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = grams.numElements()
    if (n == 0) return null
    val m = a.length
    val mins = Array.fill(m)(Long.MaxValue)
    var s = 0
    while (s < n) {
      val h = XXH64.hashUTF8String(grams.getUTF8String(s), Seed) & 0x7FFFFFFFL
      var i = 0
      while (i < m) {
        val v = (h * a(i) + b(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** LSH band keys of a signature: band j's key is XXH64 of its
    * `rows = size / bands` consecutive values written as decimal strings
    * joined by ",". Byte-for-byte the relational
    * `xxhash64(concat_ws(",", m_i cast string, ...))`, null elements
    * skipped as `concat_ws` skips them. */
  def bandKeys(sig: ArrayData, bands: Int): ArrayData = {
    val rows = sig.numElements() / bands
    val keys = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(rows * 11)
    var band = 0
    while (band < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rows) {
        val i = band * rows + r
        if (!sig.isNullAt(i)) {
          if (sb.length > 0) sb.append(',')
          sb.append(sig.getLong(i))
        }
        r += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      keys(band) =
        XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, Seed)
      band += 1
    }
    new GenericArrayData(keys)
  }
}

/** Positional word-k-grams of an ARRAY<STRING> column, as one codegen'd
  * expression.
  *
  * Exists because both alternative shapes are structurally slower:
  *  - the higher-order-function form (`transform(sequence(...), i =>
  *    concat_ws(" ", slice(ws, i, k)))`) evaluates interpreted
  *    (CodegenFallback) and re-evaluates the `slice` subtree per index —
  *    quadratic re-computation per document;
  *  - the relational window form (`posexplode` words, then k−1 `lead`s over
  *    a per-doc window) pays a hash-partition shuffle + per-doc sort just
  *    to stitch adjacent rows back together, and that shuffle carries every
  *    word row of the corpus.
  * This expression builds the grams in one fused pass over the already-split
  * array, so `posexplode(word_kgrams(words, k))` yields the same
  * (pos, shingle) rows with ZERO shuffle, and [[MinhashSignature]] signs
  * the array without exploding it at all.
  */
case class WordKGrams(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"word_kgrams needs ARRAY<STRING>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextExprUtil.kgrams(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TextExprUtil.kgrams($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The MinHash signature (ARRAY<BIGINT>, `numHashes` values) of a
  * null-free shingle array — normally `wordKGrams(words(text), k)` — as one codegen'd
  * expression per row: [[TextExprUtil.minhash]] over the coefficients of
  * [[TextExprUtil.minhashCoefficients]]. Null when the array has no
  * element.
  *
  * Replaces the relational form (explode every shingle into a row, then
  * `numHashes` `min` aggregates grouped by doc_id). That aggregate's
  * `numHashes + 1` output fields exceed `spark.sql.codegen.maxFields`, so
  * its partial and final stages ran outside whole-stage codegen, around a
  * doc_id shuffle of the wide rows; this kernel needs neither the shingle
  * rows nor the wide aggregate.
  */
case class MinhashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature needs ARRAY<STRING> without null elements, got $other")
  }

  private def coefficients = TextExprUtil.minhashCoefficients(numHashes)

  override def nullSafeEval(input: Any): Any = {
    val (a, b) = coefficients
    TextExprUtil.minhash(input.asInstanceOf[ArrayData], a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (aArr, bArr) = coefficients
    val a = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val b = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, g =>
      s"""${ev.value} = graft.functions.TextExprUtil.minhash($g, $a, $b);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `bands` LSH band keys (ARRAY<BIGINT>) of a MinHash signature array,
  * one codegen'd expression per row: [[TextExprUtil.bandKeys]]. The
  * signature's length must be a multiple of `bands` (callers check it
  * against their `numHashes`). */
case class MinhashBandKeys(child: Expression, bands: Int) extends UnaryExpression {
  require(bands >= 1, s"bands must be >= 1, got $bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"minhash_band_keys needs ARRAY<BIGINT>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextExprUtil.bandKeys(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextExprUtil.bandKeys($s, $bands);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
