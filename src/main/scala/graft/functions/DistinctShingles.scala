package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle frontier kernels (guide §4 — eliminate interpreted
  * higher-order-function chains from the hot path).
  *
  * The column formulation they replace,
  * `array_distinct(when(size(toks) >= n, transform(sequence(1,
  * size-(n-1)), i -> array_join(slice(toks, i, n), " ")))
  * .otherwise(array()))` (+ `array_sort(transform(sh, xxhash64))` on
  * the hashed path), runs INTERPRETED — higher-order functions are
  * CodegenFallback — and allocates per OUTPUT ELEMENT (a boxed slice
  * array, a joined string, lambda frames); r21/r22 task sampling
  * showed `Slice.nullSafeEval` / `ArrayFilter` / HOF frames across
  * the dedup-family map sides. The kernels compute the same arrays in
  * one pass with one allocation per DISTINCT shingle.
  *
  * Bit-exact semantics of the replaced expressions (property-tested
  * in DistinctShinglesSpec):
  *
  *  - NULL/short token arrays: the `when` guard's NULL condition
  *    falls through to `otherwise(array())`, so the output is an
  *    EMPTY ARRAY — never NULL — for NULL input or size < n. The
  *    kernels are therefore non-nullable and eval the NULL case
  *    explicitly (a nullSafeEval would wrongly return NULL).
  *  - NULL tokens inside a shingle window are SKIPPED by array_join
  *    (no separator for them) — `UTF8String.concatWs` has exactly
  *    those semantics.
  *  - Distinctness is by STRING value with first-occurrence order
  *    (array_distinct's contract). The hashed kernel hashes the
  *    DISTINCT STRINGS — so a (cosmically unlikely) 64-bit collision
  *    between distinct shingles yields two equal hash values, exactly
  *    like the column form, not one.
  *  - The hash is Spark's `xxhash64` over the shingle string (XXH64
  *    over the UTF-8 bytes, seed 42), sorted ascending
  *    (array_sort over non-null bigints).
  */
abstract class ShingleKernel extends UnaryExpression with Serializable {
  def n: Int

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> tokens, got $other")
  }

  override def nullable: Boolean = false

  /** First-occurrence-ordered distinct shingles of one token array;
    * empty for null/short input. */
  protected def distinctShingles(toksOrNull: Any): java.util.ArrayList[UTF8String] = {
    val out = new java.util.ArrayList[UTF8String]()
    if (toksOrNull == null) return out
    val toks = toksOrNull.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    if (sz < n) return out
    val seen = new java.util.HashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      // concatWs skips null inputs — array_join's null semantics
      val sh = UTF8String.concatWs(ShingleKernel.Space, window: _*)
      if (seen.add(sh)) out.add(sh)
      i += 1
    }
    out
  }

  // the replaced `when(...).otherwise(array())` is never NULL, so the
  // NULL-input case must produce an EMPTY array — hence eval, not
  // nullSafeEval
  override def eval(input: InternalRow): Any = compute(child.eval(input))

  def compute(toksOrNull: Any): ArrayData

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shkernel", this, classOf[ShingleKernel].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""${c.code}
org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = $ref.compute(${c.isNull} ? null : (Object) ${c.value});""",
      isNull = FalseLiteral)
  }
}

object ShingleKernel {
  // JVM-static (class-loaded per executor): instance fields of the
  // abstract kernel would be NULL after Java deserialization — the
  // serializable boundary sits above this class, so its constructor
  // never re-runs on the executor side.
  private[functions] val Space: UTF8String = UTF8String.fromString(" ")
}

/** `wordShinglesFromTokens(toks, n)` (the higher-order chain kept in
  * the test tree as `DedupOracle`) fused: ALL word n-grams in
  * position order WITH multiplicity — the LM / DSIR / boilerplate
  * statistic (near-dup shingling dedups; different semantics,
  * deliberately). Same bit-exact edge semantics as the chain it
  * replaces: EMPTY (never NULL) for NULL or shorter-than-n input,
  * NULL tokens inside a window skipped by the join. */
case class Shingles(child: Expression, n: Int) extends ShingleKernel {
  require(n >= 1, s"n=$n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override def compute(toksOrNull: Any): ArrayData = {
    if (toksOrNull == null) return new GenericArrayData(Array.empty[Any])
    val toks = toksOrNull.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](sz - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(ShingleKernel.Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** `array_distinct(wordShinglesFromTokens(toks, n))` fused:
  * first-occurrence-ordered distinct word n-grams. */
case class DistinctShingles(child: Expression, n: Int) extends ShingleKernel {
  require(n >= 1, s"n=$n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_distinct_shingles"
  override def compute(toksOrNull: Any): ArrayData = {
    val list = distinctShingles(toksOrNull)
    val arr = new Array[Any](list.size())
    var i = 0
    while (i < arr.length) { arr(i) = list.get(i); i += 1 }
    new GenericArrayData(arr)
  }
  override protected def withNewChildInternal(newChild: Expression): DistinctShingles =
    copy(child = newChild)
}

/** `array_sort(transform(array_distinct(wordShinglesFromTokens(toks,
  * n)), xxhash64))` fused: the sorted 64-bit hashed distinct-shingle
  * array the exact-Jaccard verify kernels consume. */
case class ShingleHashes64(child: Expression, n: Int) extends ShingleKernel {
  require(n >= 1, s"n=$n must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes64"
  override def compute(toksOrNull: Any): ArrayData = {
    val list = distinctShingles(toksOrNull)
    val hashes = new Array[Long](list.size())
    var i = 0
    while (i < hashes.length) {
      val s = list.get(i)
      hashes(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    ArrayData.toArrayData(hashes)
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes64 =
    copy(child = newChild)
}
