package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** The fused [[MinhashSignature]] kernel: bit-exact equivalence with
  * the k-column HOF formulation (`array_min(transform(md5(...)))`)
  * the DuckDB oracle replays, plus the NULL / empty-array edge
  * semantics [[graft.operators.Dedup.minhashSignatureOver]] relies
  * on. */
class MinhashSignatureSpec extends SparkSpec {

  private val K = 12

  /** The reference formulation the kernel replaces. */
  private def hofMin(seed: Int, toks: Column): Column =
    array_min(transform(toks, t => md5(concat(lit(s"$seed:"), t))))

  test("fused signature == HOF formulation element-wise on random shingle arrays") {
    import spark.implicits._
    val gen = Gen.listOfN(300, Gen.chooseNum(0, 40).flatMap { n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumStr.map(_.take(12)),
        Gen.oneOf("the cat sat", "a b", "", "émoji ✓ 測試", "tab\tsep", "x y z")))
    })
    val rows = gen.sample.get
    val df = rows.toDF("sh")
    val out = df.select(
      GraftFunctions.minhashSig(col("sh"), K).as("fused") +:
        (0 until K).map(j => hofMin(j, col("sh")).as(s"ref$j")): _*)
      .collect()
    assert(out.length == rows.length)
    out.foreach { r =>
      val fused = r.getSeq[String](0)
      assert(fused.length == K)
      (0 until K).foreach { j =>
        val ref = if (r.isNullAt(j + 1)) null else r.getString(j + 1)
        assert(fused(j) == ref, s"seed $j: fused=${fused(j)} ref=$ref")
      }
    }
  }

  test("edge semantics: NULL array -> NULL; empty/all-NULL elements -> k NULLs; NULL elements skipped") {
    import spark.implicits._
    val df = Seq(
      (1L, null: Seq[String]),
      (2L, Seq.empty[String]),
      (3L, Seq(null: String, null: String)),
      (4L, Seq("a", null, "b"))
    ).toDF("id", "sh")
    val got = df.select(col("id"), GraftFunctions.minhashSig(col("sh"), 3).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(got(1L) == null)
    assert(got(2L) == Seq(null, null, null))
    assert(got(3L) == Seq(null, null, null))
    val ref = df.filter(col("id") === 4L).select(
      (0 until 3).map(j => hofMin(j, col("sh")).as(s"r$j")): _*).collect().head
    assert(got(4L) == (0 until 3).map(ref.getString))
  }

  test("md5Prefix64 == conv(substring(md5, 1, 16)) as unsigned 64-bit on random strings") {
    import spark.implicits._
    val strs = Gen.listOfN(300, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(20)),
      Gen.oneOf("", "a", "émoji ✓ 測試", "the", "xylophone", "tab\tsep")))
      .sample.get
    val df = strs.toDF("s")
    val out = df.select(
      GraftFunctions.md5Prefix64(col("s")).as("fused"),
      // reference: first 16 hex chars parsed as unsigned 64-bit; conv
      // returns a signed-wrapped long for values >= 2^63, identical
      // bit pattern to the big-endian first-8-bytes long
      conv(substring(md5(col("s")), 1, 16), 16, 10).cast("decimal(20,0)").as("ref"))
      .collect()
    out.foreach { r =>
      val ref = r.getDecimal(1).toBigInteger.longValue() // unsigned wrap
      assert(r.getLong(0) == ref, s"fused=${r.getLong(0)} ref=$ref")
    }
  }

  test("fingerprintMd5 == md5(lower(regexp_replace)) on random and edge strings") {
    import spark.implicits._
    val strs = Gen.listOfN(400, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(30)),
      Gen.listOfN(8, Gen.oneOf("The", "QUICK", "fox", " ", "\t", "\n", "\r", "", "\f",
        "Émigré", "ÇA", "Straße", " İstanbul", "ΣΟΦΟΣ", "x  y", "")).map(_.mkString(" "))))
      .sample.get :+ "" :+ "   " :+ "\t\n\r" :+ "a" :+ "MIXED case TEXT  with\t\truns"
    val df = strs.toDF("t")
    val out = df.select(
      GraftFunctions.fingerprintMd5(col("t")).as("fused"),
      md5(lower(regexp_replace(col("t"), "\\s+", " "))).as("ref"),
      col("t")).collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"text=${r.getString(2)}")
    }
    // NULL in, NULL out
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(GraftFunctions.fingerprintMd5(col("t"))).collect().head
    assert(n.isNullAt(0))
  }

  test("quantizeInt8Summary == HOF quantize + summary chain on random float vectors") {
    import graft.operators.SimilarityOracle
    // ADVICE r21: the generator must reach the kernel's intricate
    // branches — NULL elements (sum_code poisoning), NaN/±Inf (the
    // bounds guard and NaN-largest scale), all-zero vectors (scale
    // 0.0 → every code 0, incl. NULL elements), all-NULL and empty
    // arrays (NULL scale / empty summaries), and a NULL array row.
    val elem: Gen[Option[Float]] = Gen.frequency(
      8 -> Gen.chooseNum(-10f, 10f).map(Some(_)),
      2 -> Gen.const(Some(0f)),
      1 -> Gen.const(Some(127f)),
      1 -> Gen.const(Some(-127f)),
      1 -> Gen.const(Some(Float.NaN)),
      1 -> Gen.const(Some(Float.PositiveInfinity)),
      1 -> Gen.const(Some(Float.NegativeInfinity)),
      2 -> Gen.const(None))
    val rnd: List[Option[List[Option[Float]]]] =
      Gen.listOfN(300, Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, elem)))
        .sample.get.map(Some(_))
    val edges: List[Option[List[Option[Float]]]] = List(
      Some(Nil),                                 // empty array
      Some(List(Some(0f), Some(-0f), Some(0f))), // all-zero → scale 0.0
      Some(List(None, None)),                    // all-NULL → NULL scale
      Some(List(None, Some(1f), Some(0f))),      // NULL poisons sum, zero counted
      Some(List(Some(Float.NaN), Some(1f))),     // NaN scale
      None)                                      // NULL array row
    val vecs = rnd ++ edges
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map {
        case Some(l) => Row(l.map(_.map(f => f: java.lang.Float).orNull))
        case None => Row(null)
      }, 4), schema)
    val q = SimilarityOracle.quantizeInt8(col("embedding"))
    val out = df.select(
      GraftFunctions.quantizeInt8Summary(col("embedding")).as("fused"),
      q.getField("scale").as("scale"),
      size(q.getField("codes")).cast("long").as("n_dims"),
      aggregate(q.getField("codes"), lit(0L), (acc, c) => acc + c).as("sum_code"),
      array_min(q.getField("codes")).as("min_code"),
      array_max(q.getField("codes")).as("max_code"),
      size(filter(q.getField("codes"), c => c === 0)).cast("long").as("n_zero"))
      .collect()
    def opt(row: org.apache.spark.sql.Row, i: Int): Any = if (row.isNullAt(i)) null else row.get(i)
    // Scala == on boxed doubles is NUMERIC (NaN != NaN); the kernel
    // must agree with the HOF even at NaN, so compare NaN-aware
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
      case _ => a == b
    }
    out.foreach { r =>
      if (r.isNullAt(0)) {
        // NULL array → NULL struct; every HOF reference column is NULL too
        (1 to 6).foreach(i => assert(r.isNullAt(i), s"ref col $i on NULL array"))
      } else {
        val f = r.getStruct(0)
        assert(same(opt(f, 0), opt(r, 1)), s"scale: ${opt(f, 0)} vs ${opt(r, 1)}")
        assert(f.getLong(1) == r.getLong(2), "n_dims")
        assert(same(opt(f, 2), opt(r, 3)), "sum_code")
        assert(same(opt(f, 3), opt(r, 4)), "min_code")
        assert(same(opt(f, 4), opt(r, 5)), "max_code")
        assert(f.getLong(5) == r.getLong(6), "n_zero")
      }
    }
  }

  test("signature operator output schema and values unchanged (h0..h11 via element_at)") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "")).toDF("doc_id", "text")
    val sig = graft.operators.Dedup.minhashSignatureOver(
      docs, "doc_id", array_distinct(graft.operators.Dedup.tokens(col("text"))), K)
    assert(sig.columns.toSeq == "doc_id" +: (0 until K).map(j => s"h$j"))
    val refCols = (0 until K).map(j =>
      hofMin(j, array_distinct(split(col("text"), " "))).as(s"h$j"))
    val ref = docs.select(col("doc_id") +: refCols: _*)
    assert(sig.except(ref).isEmpty && ref.except(sig).isEmpty)
  }
}
