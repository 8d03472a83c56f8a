package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** In-memory spans of a traced run: name, start, end (epoch ms, with
  * µs decimals) and the parent span's id. Written out when the run
  * ends. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }
  private val done = ArrayBuffer[Span]()
  // parent chains are per thread: foreachBatch bodies run on the
  // stream's own thread while the main thread waits on the query
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def apply[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val s0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      stack.set(stack.get.tail)
      synchronized { done += Span(id, parent, name, s0, s0 + ms) }
    }
  }

  def all: Seq[Span] = synchronized(done.toSeq)
  def total(name: String): Double = all.filter(_.name == name).map(_.ms).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = all.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

/** A benchmark-owned listener: every job start and task end, kept
  * with its time so a window's share is summed after the listener
  * bus has drained. */
final class SparkActivity extends SparkListener {
  final case class Task(endMs: Long, runMs: Long, shuffleWrite: Long, spill: Long, gcMs: Long)
  private val jobs = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
  }

  def jobsIn(fromMs: Long, toMs: Long): Int = jobs.asScala.count(t => t >= fromMs && t <= toMs)
  def tasksIn(fromMs: Long, toMs: Long): Seq[Task] =
    tasks.asScala.filter(t => t.endMs >= fromMs && t.endMs <= toMs).toSeq
}

/** Process counters read from outside the JVM's own accounting. */
object Proc {
  private def field(file: String, key: String): Option[Long] = {
    val p = java.nio.file.Paths.get(file)
    if (!java.nio.file.Files.isReadable(p)) None
    else java.nio.file.Files.readAllLines(p).asScala.find(_.startsWith(key))
      .map(_.drop(key.length).trim.split("\\s+")(0).toLong)
  }
  /** Peak resident set (VmHWM), MB. */
  def peakRssMb: Double = field("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(0.0)
  /** Bytes the process has read through read(2) and friends. */
  def rchar: Long = field("/proc/self/io", "rchar:").getOrElse(0L)
}
