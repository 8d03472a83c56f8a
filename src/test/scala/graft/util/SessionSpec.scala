package graft.util

import graft.SparkSpec

/** The session factory's conf rule and the shared stage listener. */
class SessionSpec extends SparkSpec {

  test("the factory's conf is Bench's session, and extras replace defaults") {
    assert(Session.conf(4, props = Map.empty) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    val withExtras = Session.conf(4, Seq("spark.sql.shuffle.partitions" -> "128", "spark.io.compression.codec" -> "zstd"),
      props = Map.empty)
    assert(withExtras("spark.sql.shuffle.partitions") == "128")
    assert(withExtras("spark.io.compression.codec") == "zstd")
  }

  test("a key a spark.* system property gives is left to that property") {
    val props = Map("spark.sql.shuffle.partitions" -> "7", "spark.io.compression.codec" -> "lz4")
    val conf = Session.conf(4, Seq("spark.io.compression.codec" -> "zstd"), props)
    assert(!conf.contains("spark.sql.shuffle.partitions"))
    assert(!conf.contains("spark.io.compression.codec"))
    assert(conf("spark.master") == "local[4]")
  }

  test("the listener counts one job, every task, and max >= median task time") {
    val stats = new StageStats(printFromMs = Long.MaxValue)
    spark.sparkContext.addSparkListener(stats)
    try {
      val m = stats.mark
      assert(spark.sparkContext.range(0, 1000, 1, 4).count() == 1000)
      stats.settle()
      val w = stats.since(m)
      assert(w.jobs == 1 && w.stages == 1 && w.tasks == 4, w)
      assert(w.maxMs >= w.medianMs)
      assert(w.maxMs >= w.maxStageMedianMs)
      assert(w.taskTimeMs >= w.maxMs)
      // a DataFrame count also shuffles: AQE runs its map stage as a
      // job of its own, then the final aggregate
      val m2 = stats.mark
      assert(spark.range(0, 1000, 1, 4).count() == 1000)
      stats.settle()
      val w2 = stats.since(m2)
      assert(w2.jobs >= 1 && w2.tasks >= 4 && w2.shuffleWriteBytes > 0, w2)
    } finally spark.sparkContext.removeSparkListener(stats)
  }
}
