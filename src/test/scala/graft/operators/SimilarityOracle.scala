package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function forms that [[Similarity]]'s fused
  * kernels replaced, kept as test oracles: [[cosineHof]] and
  * [[l2sqHof]] pin [[graft.functions.CosineSimilarity]] and
  * [[graft.functions.L2Squared]], and [[quantizeInt8]] is the
  * per-component form of [[graft.functions.QuantizeInt8Summary]]
  * (`p_embedding_quantize`). */
object SimilarityOracle {

  /** Dot product in double, summed in element order. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d),
      (acc, x) => acc + x)

  /** L2 norm in double. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Per-vector absolute-maximum component, in double. */
  def maxAbs(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization of an embedding vector: each
    * component maps to `trunc(x · 127 / max|x|)` ∈ [−127, 127], with
    * the per-vector scale `max|x|` carried alongside for
    * dequantization (`x ≈ code · scale / 127`). The all-zero vector
    * quantizes to all-zero codes with scale 0.
    *
    * This is the storage/bandwidth half of ANN at scale: 4 bytes →
    * 1 byte per dimension cuts the shuffle and cache footprint of the
    * candidate side by 4× before any index structure is involved.
    *
    * Determinism: the float→double cast is exact, `x·127/s` is two
    * IEEE double ops evaluated in the same order on any engine, and
    * truncation toward zero is explicit (DuckDB's CAST rounds where
    * Spark's truncates — the oracle must `trunc()` first). No
    * rounding-mode or libm dependence, so codes hash-match
    * bit-for-bit cross-engine. Non-finite components are guarded by
    * BOUNDS, not finiteness tests: a valid quotient always satisfies
    * |q| ≤ 127 (|x| ≤ max|x|), while NaN fails the comparison and
    * ±Inf exceeds it, so `!(|q| ≤ 127)` catches every non-finite
    * case and zeroes the code on BOTH engines — an unguarded cast
    * would silently yield 0/Int.MaxValue in Spark but raise a
    * conversion error in DuckDB.
    *
    * Returns a struct column (scale DOUBLE, codes ARRAY<INT>). */
  def quantizeInt8(vec: Column): Column = {
    val s = maxAbs(vec)
    val codes = transform(
      vec,
      x => {
        val q = x.cast("double") * 127.0d / s
        when(s === 0.0d || !(abs(q) <= 127.0d), lit(0)).otherwise(q.cast("int"))
      })
    struct(s.as("scale"), codes.as("codes"))
  }

  /** The HOF reference formulation of [[Similarity.cosine]] (kept for the
    * equivalence property test and as the any-numeric-array variant;
    * not used in any query plan). */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0d, lit(0.0d)).otherwise(d / n)
  }

  /** HOF reference formulation of the squared-L2 fold (any numeric
    * array type; kept for the equivalence property test — not used in
    * any query plan). */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0d),
      (acc, x) => acc + x)
}
