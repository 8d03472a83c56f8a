package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec

/** `Jobs.concurrently`: results in order, named pool threads, and on
  * failure the siblings' Spark jobs are cancelled and awaited. */
class JobsSpec extends SparkSpec {

  test("results come back in thunk order, computed on named pool threads") {
    val out = Jobs.concurrently(
      () => (spark.range(10).count(), Thread.currentThread.getName),
      () => (spark.range(20).count(), Thread.currentThread.getName))
    assert(out.map(_._1) == Seq(10L, 20L))
    out.foreach { case (_, name) => assert(name.matches("graft-jobs-\\d+"), name) }
  }

  test("a failing thunk cancels its sibling's running Spark job by tag and rethrows the original") {
    val sc = spark.sparkContext
    JobsSpec.taskStarted = new CountDownLatch(1)
    JobsSpec.sleeping.set(0)
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Jobs.concurrently(
        () => sc.parallelize(1 to 2, 2).map { i =>
          JobsSpec.sleeping.incrementAndGet()
          JobsSpec.taskStarted.countDown()
          try Thread.sleep(30000) finally JobsSpec.sleeping.decrementAndGet()
          i
        }.count(),
        () => {
          assert(JobsSpec.taskStarted.await(30, TimeUnit.SECONDS), "the sibling's job never started")
          throw boom
        })
    }
    assert(thrown eq boom)
    // the sibling job and its tasks are gone within seconds, not after 30 s
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(5)
    def idle = sc.statusTracker.getActiveJobIds.isEmpty && JobsSpec.sleeping.get() == 0
    while (!idle && System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "the sibling's Spark job is still running")
    assert(JobsSpec.sleeping.get() == 0, "the sibling's tasks are still running")
    assert(System.nanoTime() - t0 < TimeUnit.SECONDS.toNanos(20))
  }
}

object JobsSpec {
  // Shared with the sibling's tasks (local mode: same JVM).
  @volatile var taskStarted = new CountDownLatch(1)
  val sleeping = new java.util.concurrent.atomic.AtomicInteger()
}
