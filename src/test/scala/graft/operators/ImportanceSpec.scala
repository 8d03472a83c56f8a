package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** DSIR importance selection: counts, weights, scoring, resampling.
  * The floating log-ratio estimator is gated HERE (hand-computed
  * corpus) because parallel-summation order makes it inappropriate
  * for the cross-engine hash oracle; the exact-integer affinity
  * surface is additionally oracle-gated by p_dsir_weights /
  * p_dsir_resample.
  */
class ImportanceSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private def corpus = Seq(
    (1L, "a b a b", "en"),   // bigrams: "a b","b a","a b" — target
    (2L, "a b c", "en"),     // "a b","b c"                — target
    (3L, "x y x y", "de"),   // "x y","y x","x y"
    (4L, "a", "de")          // < 2 tokens: no grams
  ).toDF("doc_id", "text", "lang")

  private def bucketOf(gram: String): Long = {
    // reference implementation of Sampling.hashBucket for the spec
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"dsir:$gram".getBytes("UTF-8"))
    val hex = md.map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % dim
  }

  test("targetAffinityCounts: exact per-bucket multiplicity counts") {
    val counts = Importance.targetAffinityCounts(
      corpus, "doc_id", "text", isTarget = col("lang") === "en",
      n = 2, dim = dim, salt = "dsir")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // expected gram occurrences: "a b"×3 (tgt 3), "b a"×1 (tgt 1),
    // "b c"×1 (tgt 1), "x y"×2 (tgt 0), "y x"×1 (tgt 0)
    val expected = Map(
      "a b" -> (3L, 3L), "b a" -> (1L, 1L), "b c" -> (1L, 1L),
      "x y" -> (0L, 2L), "y x" -> (0L, 1L))
    // fold by bucket: distinct grams may collide in 64 buckets
    val byBucket = expected.toSeq
      .groupBy { case (g, _) => bucketOf(g) }
      .map { case (b, gs) =>
        b -> ((gs.map(_._2._1).sum, gs.map(_._2._2).sum))
      }
    assert(counts === byBucket)
  }

  test("scoreAffinity: exact integer sums and the single-division score") {
    val counts = Importance.targetAffinityCounts(
      corpus, "doc_id", "text", isTarget = col("lang") === "en",
      n = 2, dim = dim, salt = "dsir")
    val scored = Importance.scoreAffinity(
      corpus, "doc_id", "text", counts, n = 2, dim = dim, salt = "dsir")
      .select("doc_id", "sum_tgt", "sum_raw", "affinity")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1 grams: a b, b a, a b → tgt 3+1+3=7, raw 3+1+3=7
    assert(scored(1L) === ((7L, 7L, 8.0 / 8.0)))
    // doc 2 grams: a b, b c → tgt 3+1=4, raw 3+1=4
    assert(scored(2L) === ((4L, 4L, 5.0 / 5.0)))
    // doc 3 grams: x y, y x, x y → tgt 0, raw 2+1+2=5
    assert(scored(3L) === ((0L, 5L, 1.0 / 6.0)))
    // doc 4: no grams → smoothed prior
    assert(scored(4L) === ((0L, 0L, 1.0)))
  }

  test("resampleByAffinity: deterministic, monotone-shaped keep") {
    val counts = Importance.targetAffinityCounts(
      corpus, "doc_id", "text", isTarget = col("lang") === "en",
      n = 2, dim = dim, salt = "dsir")
    val scored = Importance.scoreAffinity(
      corpus, "doc_id", "text", counts, n = 2, dim = dim, salt = "dsir")
    val k1 = Importance.resampleByAffinity(scored, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val k2 = Importance.resampleByAffinity(scored, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(k1 === k2) // same salt ⇒ identical draw
    // keep probability at affinity a is a/(a+c): with c → 0 every doc
    // with positive affinity is kept (u < 1 bar hash ties at exactly 1)
    val all = Importance.resampleByAffinity(scored, "doc_id", c = 1e-9)
      .count()
    assert(all === 4L)
  }
}
