package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract tests for [[Curation.incrementalReport]] — the frozen-
  * history incremental re-curation. The properties a user relies on:
  * the reuse partition is exactly the unchanged (id, fingerprint)
  * set; an unchanged corpus reuses EVERY verdict verbatim; empty
  * history degenerates to the full [[Curation.report]]; history
  * duplicates are caught through the persisted artifacts alone; and
  * a changed document is never dropped as a near-dup of its own old
  * version (the same-id exclusion).
  */
class IncrementalCurationSpec extends SparkSpec {

  import spark.implicits._

  private def history(old: DataFrame): (DataFrame, DataFrame) = {
    val rep = Curation.report(old, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
      .join(old.select(col("doc_id"),
        Dedup.fingerprint(col("text")).as("fingerprint")), Seq("doc_id"))
    val idx = Dedup.minhashIndex(old, "doc_id", "text", n = 3, k = 12)
    (rep, idx)
  }

  private def incr(newDocs: DataFrame, rep: DataFrame, idx: DataFrame) =
    Curation.incrementalReport(newDocs, "doc_id", "text", rep, idx,
      n = 3, k = 12, rowsPerBand = 3, threshold = 0.5, minAgree = 0.5)

  private lazy val docs =
    spark.read.parquet(sf("sf0.001/documents.parquet"))
      .select("doc_id", "text")

  test("unchanged corpus: every row reused, verdicts = report verbatim") {
    val (rep, idx) = history(docs)
    val out = incr(docs, rep, idx)
    assert(out.filter(!col("reused")).count() === 0L)
    val full = Curation.report(docs, "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
    assert(out.drop("reused").exceptAll(full).count() === 0L)
    assert(full.exceptAll(out.drop("reused")).count() === 0L)
  }

  test("empty history degenerates to the full report, all fresh") {
    val empty = docs.filter(lit(false))
    val (rep, idx) = history(empty)
    val out = incr(docs, rep, idx)
    assert(out.filter(col("reused")).count() === 0L)
    val full = Curation.report(docs, "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
    assert(out.drop("reused").exceptAll(full).count() === 0L)
    assert(full.exceptAll(out.drop("reused")).count() === 0L)
  }

  test("reuse partition = unchanged (id, fingerprint); one row per doc") {
    // the p_curation_lineage derived-crawl construction: ids %10=0
    // are added, ids %7=3 carry drifted old text (⇒ changed)
    val old = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("text"), lit(" drifted crawl content here")))
          .otherwise(col("text")).as("text"))
    val (rep, idx) = history(old)
    val out = incr(docs, rep, idx).cache()
    try {
      assert(out.count() === docs.count())
      assert(out.select("doc_id").distinct().count() === docs.count())
      val freshIds = out.filter(!col("reused")).select("doc_id")
        .as[Long].collect().toSet
      val expected = docs.select("doc_id").as[Long].collect()
        .filter(id => id % 10 == 0 || id % 7 == 3).toSet
      assert(freshIds === expected)
    } finally out.unpersist()
  }

  test("history dups caught via artifacts; changed doc survives its old self") {
    val t1 = "the quick brown fox jumps over a lazy dog and runs far away home"
    val t2 = "a journey of many miles begins with one small step in the morning light"
    val t3 = "it was the best of times and the worst of times for all people in town"
    val old = Seq(1L -> t1, 2L -> t2, 3L -> t3).toDF("doc_id", "text")
    val (rep, idx) = history(old)
    // new corpus: 1,2 unchanged; 3 changed (one appended word);
    // 4 is an EXACT copy of history doc 1 under a new id
    val t3b = t3 + " tonight"
    val newDocs = Seq(1L -> t1, 2L -> t2, 3L -> t3b, 4L -> t1)
      .toDF("doc_id", "text")
    val rows = incr(newDocs, rep, idx)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Boolean]("reused"))
    assert(rows(2L).getAs[Boolean]("reused"))
    assert(!rows(3L).getAs[Boolean]("reused"))
    assert(!rows(4L).getAs[Boolean]("reused"))
    // doc 4: exact + near dup of history doc 1 through the artifacts
    assert(rows(4L).getAs[Boolean]("exact_dup_loser"))
    assert(rows(4L).getAs[Boolean]("near_dup_loser"))
    assert(!rows(4L).getAs[Boolean]("kept"))
    // doc 3 WOULD match its own old signature (non-vacuity: the
    // same-id-included probe flags it) but the gate must not drop it
    val selfHit = Dedup.indexNearDupIds(
      newDocs.filter(col("doc_id") === 3L), "doc_id", "text", idx,
      n = 3, k = 12, rowsPerBand = 3, minAgree = 0.5)
    assert(selfHit.count() === 1L)
    assert(!rows(3L).getAs[Boolean]("near_dup_loser"))
    assert(!rows(3L).getAs[Boolean]("exact_dup_loser"))
    assert(rows(3L).getAs[Boolean]("kept"))
  }

  test("lineage over id-BUCKETED report tables: report joins are exchange-free") {
    // the scaladoc's recurring-pipeline promise: persist each run's
    // report bucketed by id and the lineage run pays NO exchange on
    // either report side — correctness identical to the frame form
    val old = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("text"), lit(" drifted crawl content here")))
          .otherwise(col("text")).as("text"))
    def rep(dd: DataFrame) = Curation.report(dd, "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("lin_bkt").toString
    def writeBucketed(dd: DataFrame, table: String): Unit =
      dd.write.mode("overwrite").option("path", s"$dir/$table")
        .bucketBy(4, "doc_id").sortBy("doc_id").format("parquet").saveAsTable(table)
    writeBucketed(rep(old), "lin_old_rep")
    writeBucketed(rep(docs), "lin_new_rep")
    // tiny test tables would broadcast (bypassing bucketing) and AQE
    // hides the tree inside leaf stage nodes — pin both off so the
    // structural assert sees the real fact-fact shape
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val lin = Curation.lineage(
        old, docs, spark.table("lin_old_rep"), spark.table("lin_new_rep"),
        "doc_id", "text")
      // plan assert: no shuffle exchange feeds off a BUCKETED scan —
      // both report sides satisfy the join distribution off the scan
      // (the diff/docs side still exchanges; that is its cost, not
      // the persisted reports')
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val plan = lin.queryExecution.executedPlan
      val bucketedScans = plan.collect {
        case s: FileSourceScanExec if s.relation.bucketSpec.isDefined => s
      }
      assert(bucketedScans.size == 2, s"both report scans must be bucketed, got ${bucketedScans.size}")
      val shuffledBucketed = plan.collect { case e: ShuffleExchangeLike => e }
        .flatMap(_.collect {
          case s: FileSourceScanExec if s.relation.bucketSpec.isDefined => s })
      assert(shuffledBucketed.isEmpty,
        "a bucketed report scan must never sit under a shuffle exchange")
      // correctness: identical to the plain-frame lineage
      val plain = Curation.lineage(old, docs, rep(old), rep(docs),
        "doc_id", "text")
      assert(lin.exceptAll(plain).count() === 0L)
      assert(plain.exceptAll(lin).count() === 0L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS lin_old_rep")
      spark.sql("DROP TABLE IF EXISTS lin_new_rep")
    }
  }
}
