package graft

/** `graft.Probe`'s modes, driven on the test session. */
class ProbeSpec extends SparkSpec {
  private val dir = sf("sf0.001")
  private val q5 = Seq("q5_local_supplier_volume")

  test("explain returns the formatted plan of each selected query") {
    val plans = Probe.explain(spark, dir, q5)
    assert(plans.map(_._1) == q5)
    assert(plans.head._2.contains("Physical Plan"), plans.head._2)
  }

  test("executed returns the final post-AQE plan") {
    val plans = Probe.executed(spark, dir, q5)
    assert(plans.map(_._1) == q5)
    assert(plans.head._2.contains("isFinalPlan=true"), plans.head._2)
  }

  test("reps runs each query three times and counts its jobs and tasks") {
    val reps = Probe.reps(spark, dir, q5)
    assert(reps.map(_.rep) == Seq(1, 2, 3))
    reps.foreach { r =>
      assert(r.query == q5.head)
      assert(r.jobs > 0 && r.tasks > 0 && r.stages > 0, r)
      assert(r.wallS > 0 && r.taskMs >= 0, r)
    }
  }

  test("a substring matching no query is refused") {
    intercept[IllegalArgumentException](SparkEntry.select(Seq("no_such_query")))
  }
}
