package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.scalacheck.Gen

import graft.SparkSpec
import graft.operators.{Dedup, DedupOracle}

/** The fused shingle kernels must be BIT-IDENTICAL to the interpreted
  * HOF chains they replace — including the chains' quirky edges: NULL
  * token arrays yield an EMPTY array (the when-guard's NULL condition
  * falls to otherwise), NULL tokens inside a window are skipped by
  * array_join, distinctness is by string with first-occurrence order,
  * and the hashed form sorts xxhash64 (seed 42) of the DISTINCT
  * strings ascending. */
class DistinctShinglesSpec extends SparkSpec {

  private def refShingles(n: Int) =
    array_distinct(DedupOracle.wordShinglesFromTokens(col("toks"), n))
  private def refHashes(n: Int) =
    array_sort(transform(refShingles(n), s => xxhash64(s)))

  private def tokenRows: Seq[Option[List[Option[String]]]] = {
    val tok = Gen.frequency(
      6 -> Gen.oneOf("the", "cat", "sat", "a", "b", "émoji✓", "x1"),
      2 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.const(""),
      1 -> Gen.const(null: String))
    val gen = Gen.listOfN(250, Gen.chooseNum(0, 30).flatMap(len =>
      Gen.listOfN(len, tok.map(Option(_)))))
    gen.sample.get.map(Some(_)) ++ Seq(
      None,                                  // NULL token array
      Some(Nil),                             // empty
      Some(List(Some("a"))),                 // shorter than n for n>1
      Some(List(None, None, None)),          // all-NULL tokens
      Some(List(Some("a"), Some("a"), Some("a"), Some("a")))) // dup shingles
  }

  private def df(rows: Seq[Option[List[Option[String]]]]) = {
    val schema = StructType(Seq(
      StructField("toks", ArrayType(StringType, containsNull = true), nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map {
        case Some(l) => Row(l.map(_.orNull))
        case None => Row(null)
      }, 4), schema)
  }

  test("Shingles == wordShinglesFromTokens (positional, with multiplicity) on random token arrays") {
    val rows = tokenRows
    for (n <- Seq(1, 2, 3, 5)) {
      val out = df(rows).select(
        GraftFunctions.shingles(col("toks"), n).as("fused"),
        DedupOracle.wordShinglesFromTokens(col("toks"), n).as("ref")).collect()
      out.zipWithIndex.foreach { case (r, i) =>
        assert(!r.isNullAt(0), s"row $i n=$n: fused NULL (must be empty, never null)")
        assert(!r.isNullAt(1), s"row $i n=$n: ref NULL")
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"row $i n=$n")
      }
    }
  }

  test("DistinctShingles == array_distinct(wordShinglesFromTokens) on random token arrays") {
    val rows = tokenRows
    for (n <- Seq(1, 2, 3, 5)) {
      val out = df(rows).select(
        GraftFunctions.distinctShingles(col("toks"), n).as("fused"),
        refShingles(n).as("ref")).collect()
      out.zipWithIndex.foreach { case (r, i) =>
        assert(!r.isNullAt(0), s"row $i n=$n: fused NULL (must be empty, never null)")
        assert(!r.isNullAt(1), s"row $i n=$n: ref NULL")
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"row $i n=$n")
      }
    }
  }

  test("ShingleHashes64 == array_sort(transform(distinct shingles, xxhash64))") {
    val rows = tokenRows
    for (n <- Seq(1, 2, 3, 5)) {
      val out = df(rows).select(
        GraftFunctions.shingleHashes64(col("toks"), n).as("fused"),
        refHashes(n).as("ref")).collect()
      out.zipWithIndex.foreach { case (r, i) =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"row $i n=$n")
      }
    }
  }

  test("frontier swap is value-transparent: minhash pairs unchanged on a seeded corpus") {
    import spark.implicits._
    // end-to-end guard: the dedup pipeline over the fused frontier
    // produces the identical pair set (values, not plan) as before
    val docs = (0L until 60L).map { i =>
      val base = s"w${i % 7} common tokens here run ${i % 5} and w${i % 3} tail"
      (i, if (i % 4 == 0) base else s"$base extra$i")
    }.toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsShingled(docs, "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
    val got = pairs.orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.forall { case (a, b) => a < b })
  }
}
