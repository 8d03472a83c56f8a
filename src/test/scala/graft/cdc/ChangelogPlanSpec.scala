package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.{ReusedSubqueryExec, ScalarSubquery, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkSpec

/** The executed shape of [[Changelog.apply]]'s MERGE, over inputs
  * shaped like a micro-batch's: a cached event batch and a parquet
  * base. */
class ChangelogPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("the TRUNCATE fence is computed once: one subquery, reused by every other use") {
    val events = CdcDecode.toWireDf(
      spark.createDataset(CdcDecode.decodeSeq(UsersFixture.frames))(Encoders.product[CdcEvent])).cache()
    val baseDir = Files.createTempDirectory("base").toString
    UsersFixture.baseState(spark).write.mode("overwrite").parquet(baseDir)
    val out = Changelog.apply(spark.read.parquet(baseDir), events, "users", "id", UsersFixture.Cols.tail)
    try assert(out.collect().length == 3) finally events.unpersist()
    val plan = out.queryExecution.executedPlan
    val fences = collect(plan)(p => p.expressions.flatMap(_.collect { case s: ScalarSubquery => s.plan })).flatten
    val computed = fences.collect { case s: SubqueryExec => s.id }.distinct
    val reused = fences.collect { case r: ReusedSubqueryExec => r.child.id }
    assert(computed.size == 1, plan.toString)
    assert(reused.nonEmpty && reused.forall(_ == computed.head), plan.toString)
  }
}
