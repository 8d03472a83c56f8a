package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.operators.{Similarity, SimilarityOracle}

/** The native [[CosineSimilarity]] expression: bit-exact equivalence
  * with the HOF reference formulation, SQL registration, and the NULL
  * edge semantics the oracle relies on. */
class FunctionsSpec extends SparkSpec {

  test("native cosine == HOF cosine bit-for-bit on random float vectors") {
    import spark.implicits._
    // one Spark job over many generated pairs (a per-sample job would
    // dominate the suite); bit-identical is the assertion, not ≈
    val pairs = Gen.listOfN(500,
      Gen.zip(Gen.listOfN(8, Gen.chooseNum(-10f, 10f)),
              Gen.listOfN(8, Gen.chooseNum(-10f, 10f))))
      .sample.get
    val df = pairs.toDF("a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      SimilarityOracle.cosineHof(col("a"), col("b")).as("hof")).collect()
    assert(out.length == 500)
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native l2sq == HOF fold bit-for-bit on random float vectors; edge semantics") {
    import spark.implicits._
    val pairs = Gen.listOfN(500,
      Gen.zip(Gen.listOfN(8, Gen.chooseNum(-10f, 10f)),
              Gen.listOfN(8, Gen.chooseNum(-10f, 10f))))
      .sample.get
    val df = pairs.toDF("a", "b")
    val out = df.select(
      GraftFunctions.l2sq(col("a"), col("b")).as("native"),
      SimilarityOracle.l2sqHof(col("a"), col("b")).as("hof")).collect()
    assert(out.length == 500)
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // NULL array / length mismatch -> NULL; empty arrays -> 0.0
    val edge = Seq(
      (1L, null, Seq(1f)),
      (2L, Seq(1f, 2f), Seq(1f)),
      (3L, Seq.empty[Float], Seq.empty[Float])
    ).toDF("id", "a", "b")
    val got = edge.select(col("id"), GraftFunctions.l2sq(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).contains(0.0))
  }

  test("cosine edge semantics: zero vector, NULL array, NULL element, length mismatch") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0f, 0f), Seq(1f, 2f)),      // zero vector -> 0.0
      (2L, Seq(3f, 4f), Seq(3f, 4f))       // identical -> 1.0
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) == 0.0)
    assert(math.abs(rows(2L) - 1.0) < 1e-15)
    // NULL array / mismatched lengths -> NULL (zip_with semantics)
    val edge = Seq(
      (3L, null, Seq(1f)),                 // null array
      (4L, Seq(1f, 2f), Seq(1f))           // length mismatch
    ).toDF("id", "a", "b")
    val nulls = edge.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(nulls(3L) && nulls(4L))
  }

  test("sorted intersect count == size(array_intersect) on random sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { _ =>
      def arr = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (arr, arr)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq.empty[Long]))
    val df = rows.toDF("a", "b")
    val out = df.select(
      SortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // null array -> null
    val n = Seq((null.asInstanceOf[Seq[Long]], Seq(1L))).toDF("a", "b")
      .select(SortedIntersectCount(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("sorted jaccard == two-step inter/(na+nb-inter) bit-for-bit; edge semantics") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      def arr = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (arr, arr)
    }
    val df = rows.toDF("a", "b")
    val inter = SortedIntersectCount(col("a"), col("b")).cast("double")
    val ref = inter / (size(col("a")) + size(col("b")) - inter)
    val out = df
      .filter(size(col("a")) > 0 || size(col("b")) > 0) // 0/0 ref is NaN; kernel defines 0.0
      .select(SortedJaccard(col("a"), col("b")).as("fast"), ref.as("ref")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // both empty -> defined 0.0; null array -> null
    val e = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(SortedJaccard(col("a"), col("b"))).head()
    assert(e.getDouble(0) == 0.0)
    val n = Seq((null.asInstanceOf[Seq[Long]], Seq(1L))).toDF("a", "b")
      .select(SortedJaccard(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("graft_cosine is callable from SQL after register(); extensions inject the same") {
    GraftFunctions.register(spark)
    val v = spark.sql(
      "SELECT graft_cosine(array(3.0F, 4.0F), array(4.0F, 3.0F)) AS c")
      .head().getDouble(0)
    assert(math.abs(v - 24.0 / 25.0) < 1e-15)
    val ic = spark.sql(
      "SELECT graft_intersect_count(array(1L, 3L, 9L), array(3L, 4L, 9L)) AS c")
      .head().getLong(0)
    assert(ic == 2L)
    // the extensions entry point wires the identical descriptors
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; descriptor count fixed
    assert(GraftFunctions.descriptors.map(_._1.funcName) ==
      Seq("graft_cosine", "graft_l2sq", "graft_intersect_count",
        "graft_sorted_jaccard", "graft_jpeg_sof",
        "graft_png_pixels", "graft_png_stats",
        "graft_jpeg_pixels", "graft_jpeg_stats",
        "graft_avi_meta", "graft_avi_frame", "graft_avi_frame_stats",
        "graft_audio_segment_dhashes", "graft_audio_segment_dhashes_ms",
        "graft_avi_frame_dhashes",
        "graft_audio_segment_stats", "graft_avi_audio_segment_dhashes",
        "graft_bmp_pixels", "graft_bmp_stats",
        "graft_jaro_winkler",
        "graft_gif_pixels", "graft_gif_stats",
        "graft_wav_samples", "graft_wav_stats",
        "graft_resize_nn", "graft_audio_dhash", "graft_image_dhash",
        "graft_top_k"))
  }

  test("native cosine participates in whole-stage codegen (no CodegenFallback)") {
    // non-foldable input (literals constant-fold to a LocalTableScan)
    val df = spark.range(4).select(
        array(col("id").cast("float"), lit(1f)).as("a"),
        array(lit(2f), col("id").cast("float")).as("b"))
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    // "*(n)" is simpleString's WholeStageCodegen marker
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_cosine"), s"expected codegen'd project in:\n$plan")
    // the expression itself must implement doGenCode, not fall back
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[CosineSimilarity]))
    assert(df.collect().length == 4)
  }
}
