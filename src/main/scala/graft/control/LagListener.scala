package graft.control

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Observability (reference C3): where the reference polls
  * `pg_replication_slots` and computes retained-WAL lag
  * (check_wal.py:16-27), the Spark engine listens to streaming
  * progress — rows/sec, batch durations, input backlog — per query.
  * Attach with `spark.streams.addListener(new LagListener)`. */
final class LagListener extends StreamingQueryListener {
  import LagListener.Progress

  private val state = new ConcurrentHashMap[java.util.UUID, Progress]()

  def progressOf(id: java.util.UUID): Option[Progress] = Option(state.get(id))
  def snapshot: Map[java.util.UUID, Progress] = {
    import scala.jdk.CollectionConverters._
    state.asScala.toMap
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val prev = Option(state.get(p.id)).map(_.totalInputRows).getOrElse(0L)
    state.put(p.id, Progress(
      batchId = p.batchId,
      numInputRows = p.numInputRows,
      inputRowsPerSecond = p.inputRowsPerSecond,
      processedRowsPerSecond = p.processedRowsPerSecond,
      durationMs = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L),
      totalInputRows = prev + p.numInputRows))
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

object LagListener {

  final case class Progress(
      batchId: Long,
      numInputRows: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double,
      durationMs: Long,
      totalInputRows: Long)
}
