package graft.util

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT eager Spark jobs (optimization guide §2.6).
  *
  * Spark's scheduler happily runs several jobs at once inside one
  * application; actions are only sequential because the driver calls
  * them sequentially. Several operators and query bodies materialize
  * independent artifacts with EAGER actions (localCheckpoints;
  * connected components: an edge-list checkpoint whose job counts it,
  * one read of a residue within the driver's local-finish bound, and
  * contraction rounds while the residue exceeds it) that otherwise
  * run strictly one-after-another during DataFrame construction — each a
  * multi-stage job whose short stages leave most cores idle. A
  * thread pool sized to the artifact count lets each job's tasks
  * back-fill executors freed by the others' straggler tails (FIFO
  * scheduling = exactly the back-fill behaviour wanted; 2-6 jobs in
  * flight, never unbounded). Rows are identical — only job
  * submission overlap changes.
  */
object Jobs {

  private val ids = new AtomicLong()

  /** Pool threads are named `graft-jobs-<n>`, so a thread dump of a
    * stuck caller shows which thunk each thread is running. */
  private val threads: ThreadFactory = (r: Runnable) =>
    new Thread(r, s"graft-jobs-${ids.incrementAndGet()}")

  /** Run the thunks concurrently and return their results in order.
    * A failing thunk rethrows its ORIGINAL exception (not the
    * ExecutionException wrapper) so error surfaces are unchanged.
    *
    * The thunks' Spark jobs carry a job tag unique to this call. When
    * one thunk fails, the tag is cancelled (tasks interrupted) and the
    * siblings' threads awaited BEFORE the exception is rethrown:
    * interrupting the submitting thread alone does not stop the Spark job
    * it submitted, so without the tag a failed caller's background
    * jobs would outlive it — overlapping whatever runs next, or
    * racing a retry's writes to the same output. The siblings'
    * threads are not interrupted: an interrupted writer aborts its job
    * while the scheduler still lets the job's tasks commit, and a
    * retry that writes the same directory then commits them with its
    * own files. A writer that waits sees its job fail only after the
    * scheduler ended the job's stages, so no late task commits. */
  def concurrently[A](thunks: (() => A)*): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_()).toSeq
    else {
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-jobs-call-${ids.incrementAndGet()}"
      val pool = Executors.newFixedThreadPool(thunks.size, threads)
      try {
        val done = new ExecutorCompletionService[A](pool)
        val futs = thunks.map { t =>
          done.submit(new Callable[A] { def call(): A = tagged(sc, tag)(t()) })
        }
        try {
          // in completion order, so the first failure is seen at once
          // rather than after every thunk before it has finished
          thunks.foreach { _ =>
            try done.take().get()
            catch { case e: ExecutionException => throw e.getCause }
          }
          futs.map(_.get()).toSeq
        } catch { case e: Throwable =>
          sc.foreach(_.cancelJobsWithTag(tag, "a sibling in Jobs.concurrently failed"))
          futs.foreach(_.cancel(false))
          throw e // after the finally below has awaited the siblings
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(60, TimeUnit.SECONDS)
        ()
      }
    }

  /** Run `body` with `tag` on every Spark job this thread submits. */
  private def tagged[A](sc: Option[SparkContext], tag: String)(body: => A): A = sc match {
    case None => body
    case Some(c) =>
      c.addJobTag(tag)
      c.setInterruptOnCancel(true)
      try body finally c.removeJobTag(tag)
  }
}
