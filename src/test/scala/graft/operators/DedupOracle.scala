package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The higher-order-function forms that [[Dedup]]'s kernels replaced,
  * kept as test oracles: word shingling, which the fused
  * [[graft.functions.Shingles]] / [[graft.functions.DistinctShingles]]
  * kernels are pinned against, and the `aggregate`/`zip_with` simhash
  * vote loop, which [[Dedup.simhash64ByKey]] is pinned against. */
object DedupOracle {

  /** Word n-gram (shingle) array: tokens i..i+n-1 joined by a space.
    * Documents shorter than n tokens yield an empty array (guarded:
    * an unguarded `sequence(1, size-(n-1))` would step DOWN through 0
    * and blow up under ANSI mode).
    *
    * `toks` MUST be a materialized attribute (a projected column),
    * not an inline expression: `slice(toks, i, n)` inside the lambda
    * evaluates `toks` per OUTPUT ELEMENT, so an inlined `split(text)`
    * turns O(tokens) shingling into O(tokens²). */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** SimHash vote vector: ONE pass over the distinct tokens, each
    * token contributing ±1 to all 64 bit positions via a single
    * `aggregate` + `zip_with` (vs 64 independent aggregate passes —
    * the round-1 version — whose expression tree was O(64·tokens)
    * traversals). Bit i of a token = bit (i%4) of hex nibble
    * (16 − i/4) of its 16-hex-char md5 prefix. */
  def simhashVotes(text: Column): Column = {
    val toks = array_distinct(Dedup.tokens(text))
    val words = transform(toks, t => substring(md5(t), 1, 16))
    def bitVote(w: Column, i: Int): Column = {
      val nibble = conv(substring(w, 16 - i / 4, 1), 16, 10).cast("int")
      when(shiftright(nibble, i % 4).bitwiseAND(1) === 1, 1).otherwise(-1)
    }
    aggregate(
      words,
      array_repeat(lit(0), 64),
      (acc, w) => zip_with(acc, array((0 until 64).map(i => bitVote(w, i)): _*), (a, b) => a + b))
  }

  /** 16-hex-char (lowercase) SimHash from a 64-int vote vector: bit i
    * set iff votes(i) > 0. Keep votes in a materialized column before
    * calling this (it references the vote array 64 times — cheap on an
    * attribute, pathological on the full aggregate expression). */
  def simhashHexFromVotes(votes: Column): Column = {
    def bit(i: Int): Column = when(element_at(votes, i + 1) > 0, 1).otherwise(0)
    val hexChars = (0 until 16).map { p => // p=0 → most-significant nibble (bits 63..60)
      val base = (15 - p) * 4
      lower(conv((bit(base + 3) * 8 + bit(base + 2) * 4 + bit(base + 1) * 2 + bit(base)).cast("string"), 10, 16))
    }
    concat(hexChars: _*)
  }

  /** 64-bit SimHash over tokens as a lowercase 16-hex-char string
    * (lowercase matches every other fingerprint in this module and
    * common oracle hex conventions). Adds/removes a `__simhash_votes`
    * scratch column so the vote aggregate is evaluated once per row. */
  def withSimhash64(docs: DataFrame, textCol: String, outCol: String): DataFrame =
    docs
      .withColumn("__simhash_votes", simhashVotes(col(textCol)))
      .withColumn(outCol, simhashHexFromVotes(col("__simhash_votes")))
      .drop("__simhash_votes")
}
