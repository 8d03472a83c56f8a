package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row

class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  // corpus bigram counts: "a b"→5, "b a"→2, "b c"→1, "b x"→1
  private def docs = Seq(
    (1L, "a b a b c"),
    (2L, "a b x"),
    (3L, "z"),
    (4L, "a b a b")).toDF("doc_id", "text")

  test("ngramCounts: positional multiplicities, not per-doc distinct") {
    val m = LanguageModel.ngramCounts(docs, "text", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a b" -> 5L, "b a" -> 2L, "b c" -> 1L, "b x" -> 1L))
  }

  test("familiarity: hand-computed rates at minCount=2") {
    val out = LanguageModel.familiarity(docs, "doc_id", "text", n = 2, minCount = 2)
      .orderBy("doc_id").collect()
    assert(out.toSeq == Seq(
      Row(1L, 4L, 3L, 0.75), // ab,ba,ab,bc → ab(5)+ba(2) familiar = 3
      Row(2L, 2L, 1L, 0.5),  // ab,bx → ab familiar
      Row(3L, 0L, 0L, 0.0),  // sub-bigram doc preserved as a zero row
      Row(4L, 3L, 3L, 1.0))) // ab,ba,ab all familiar
  }

  test("familiarity: minCount=1 makes every position familiar") {
    val out = LanguageModel.familiarity(docs, "doc_id", "text", n = 2, minCount = 1)
      .filter($"n_grams" > 0).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(1) == r.getLong(2) && r.getDouble(3) == 1.0))
  }

  test("familiarity plan: equi-join on the gram key, never a cartesian") {
    val plan = LanguageModel.familiarity(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // ---------------------------------------------------------------
  // perplexity: train on a fixed reference, hand-compute the backoff
  // model. Reference "a b a b c" + "a b x":
  //   unigrams a:3 b:3 c:1 x:1  (N=8 tokens, V=4 vocab)
  //   bigrams  "a b":3 "b a":1 "b c":1 "b x":1
  private def refDocs = Seq(
    (1L, "a b a b c"),
    (2L, "a b x")).toDF("doc_id", "text")

  private def scoreDocs = Seq(
    (10L, "a b c"), // both bigrams hit
    (11L, "a q"),   // unknown bigram, unknown word → pure backoff
    (12L, "z"),     // sub-bigram doc → zero row
    (13L, "c a b")  // one backoff (known word a), one hit
  ).toDF("doc_id", "text")

  private def scored = LanguageModel.perplexity(
    scoreDocs, "doc_id", "text",
    LanguageModel.ngramCounts(refDocs, "text", 1),
    LanguageModel.ngramCounts(refDocs, "text", 2))

  test("perplexity: engine-exact tallies and hit_frac") {
    val m = scored.orderBy("doc_id").collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    }.toMap
    assert(m(10L) == ((2L, 2L, 0L, 1.0)))
    assert(m(11L) == ((1L, 0L, 1L, 0.0)))
    assert(m(12L) == ((0L, 0L, 0L, null)))
    assert(m(13L) == ((2L, 1L, 1L, 0.5)))
    // a NULL-text doc scores as an explicit zero row, not NULLs
    val withNull = scoreDocs.unionByName(
      Seq((14L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val z = LanguageModel.perplexity(withNull, "doc_id", "text",
      LanguageModel.ngramCounts(refDocs, "text", 1),
      LanguageModel.ngramCounts(refDocs, "text", 2))
      .filter($"doc_id" === 14L).collect()
    assert(z.length == 1 &&
      (z.head.getLong(1), z.head.getLong(2), z.head.getLong(3)) == ((0L, 0L, 0L)))
  }

  test("perplexity: hand-computed backoff log-probs (spec-gated floats)") {
    val m = scored.filter($"n_scored" > 0).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(5), r.getDouble(6)))).toMap
    // doc 10: lp = ln(3/3) + ln(1/3) → ppl = exp(-lp/2) = sqrt(3)
    assert(math.abs(m(10L)._1 - math.log(1.0 / 3) / 2) < 1e-12)
    assert(math.abs(m(10L)._2 - math.sqrt(3.0)) < 1e-12)
    // doc 11: lp = ln(0.4) + ln((0+1)/(8+4)) → ppl = 12/0.4 = 30
    assert(math.abs(m(11L)._1 - math.log(0.4 / 12)) < 1e-12)
    assert(math.abs(m(11L)._2 - 30.0) < 1e-9)
    // doc 13: "c a" backs off via c1(a)=3 → ln(0.4 * 4/12); "a b" hits at ln(1)
    assert(math.abs(m(13L)._1 - math.log(0.4 / 3) / 2) < 1e-12)
    assert(math.abs(m(13L)._2 - math.sqrt(3.0 / 0.4)) < 1e-12)
  }

  test("perplexity plan: gram joins are shuffled-hash, no unbounded nested loop") {
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    // the ONLY nested-loop is the broadcast of the 1-row totals scalar
    assert(plan.split("BroadcastNestedLoopJoin").length <= 2)
  }

  test("familiarity: trigram familiarity on the real documents table") {
    val real = graft.Tables(spark, sf("sf0.001")).documents
    val out = LanguageModel.familiarity(real, "doc_id", "text", n = 3, minCount = 2)
    val rows = out.collect()
    assert(rows.length == real.count())
    assert(rows.forall { r =>
      val (n, fam, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      fam >= 0 && fam <= n && rate >= 0.0 && rate <= 1.0 &&
        (n == 0 && rate == 0.0 || math.abs(rate - fam.toDouble / n) < 1e-15)
    })
  }
}
