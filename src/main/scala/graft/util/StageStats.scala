package graft.util

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The one per-stage / per-task listener of the measurement mains.
  *
  * Records every successful task's (stage id, duration) and counts
  * jobs, stages, shuffle bytes and spill; [[since]] reads what ran
  * after a [[mark]]. The op-level max/median task ratio alone cannot
  * tell a straggler (one task far beyond its stage siblings — a skew
  * defect) from a uniformly WIDE stage (every task equally heavy — a
  * volume cost), so a window also carries the slowest task's own
  * stage median.
  *
  * A stage whose slowest task took at least `printFromMs` prints one
  * line to stderr AS IT COMPLETES, so a run that crashes still leaves
  * the profile of every stage it finished: stage id, task count,
  * max/median task ms, shuffle records and bytes read and written,
  * memory/disk spill, and the stage name.
  */
final class StageStats(printFromMs: Long) extends SparkListener {
  import StageStats._

  private val tasks = mutable.ArrayBuffer.empty[(Int, Long)]
  // durations of the stages still running; only the bus thread uses it
  private val running = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobsStarted = new AtomicInteger
  private val jobsEnded = new AtomicInteger
  private val stages = new AtomicInteger
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet(); lastEventNs = System.nanoTime()
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet(); lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null && t.taskInfo.successful) {
      val ms = t.taskInfo.duration
      tasks.synchronized { tasks += ((t.stageId, ms)) }
      running.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += ms
      lastEventNs = System.nanoTime()
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val info = s.stageInfo
    val ds = running.remove(info.stageId).fold(Vector.empty[Long])(_.toVector.sorted)
    stages.incrementAndGet()
    Option(info.taskMetrics).foreach { m =>
      val (read, write) = (m.shuffleReadMetrics, m.shuffleWriteMetrics)
      shuffleRead.addAndGet(read.totalBytesRead)
      shuffleWrite.addAndGet(write.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val max = ds.lastOption.getOrElse(0L)
      if (max >= printFromMs) {
        def mb(b: Long): String = f"${b / 1e6}%.0fMB"
        System.err.println(
          f"[stage] ${info.stageId}%4d tasks=${info.numTasks}%5d max_ms=$max%7d med_ms=${median(ds)}%6d " +
            f"sread=${read.recordsRead}%11d/${mb(read.totalBytesRead)}%9s " +
            f"swrite=${write.recordsWritten}%11d/${mb(write.bytesWritten)}%9s " +
            f"spill=${mb(m.memoryBytesSpilled)}/${mb(m.diskBytesSpilled)} " + info.name)
      }
    }
    lastEventNs = System.nanoTime()
  }

  def mark: Mark = Mark(jobsStarted.get, stages.get, tasks.synchronized(tasks.size),
    shuffleRead.get, shuffleWrite.get, spill.get)

  /** What ran after `m`; call [[settle]] first for a complete window. */
  def since(m: Mark): Window = Window(
    jobsStarted.get - m.jobs, stages.get - m.stages,
    tasks.synchronized(tasks.drop(m.tasks).toVector),
    shuffleRead.get - m.shuffleReadBytes, shuffleWrite.get - m.shuffleWriteBytes,
    spill.get - m.spillBytes)

  /** Wait (at most 5 s) until every started job has ended and no event
    * has arrived for 200 ms: the bus delivers events asynchronously,
    * so a window read right after an action would miss the task ends
    * still queued. */
  def settle(): Unit = {
    val t0 = System.nanoTime()
    def quietNs = System.nanoTime() - math.max(t0, lastEventNs)
    while (System.nanoTime() - t0 < 5000000000L &&
      (jobsEnded.get < jobsStarted.get || quietNs < 200000000L)) Thread.sleep(10)
  }
}

object StageStats {

  final case class Mark(jobs: Int, stages: Int, tasks: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** `taskMs` holds (stage id, duration ms) of every successful task,
    * in completion order. */
  final case class Window(jobs: Int, stages: Int, taskMs: Seq[(Int, Long)],
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    private lazy val sorted = taskMs.map(_._2).sorted
    def tasks: Int = taskMs.size
    def taskTimeMs: Long = sorted.sum
    def maxMs: Long = sorted.lastOption.getOrElse(0L)
    def medianMs: Long = median(sorted)
    /** Median of the slowest task's own stage: ≈ [[maxMs]] for a
      * uniformly wide stage, ≪ it for a straggler. */
    def maxStageMedianMs: Long =
      if (taskMs.isEmpty) 0L
      else {
        val stage = taskMs.maxBy(_._2)._1
        median(taskMs.collect { case (s, d) if s == stage => d }.sorted)
      }
  }

  private def median(sorted: Seq[Long]): Long =
    if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
}
