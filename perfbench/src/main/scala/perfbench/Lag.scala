package perfbench

/** One committed micro-batch as the streaming progress reports it:
  * the source's start (exclusive) and end (inclusive) LSN offsets and
  * the batch's commit time, `timestamp + triggerExecution`. */
final case class BatchCommit(startLsn: Option[Long], endLsn: Long, commitMs: Long)

/** Lag attribution: which batch committed each generated event, and
  * how long after its due time. Pure logic, so it is tested without
  * Spark. */
object Lag {

  /** Progress offsets are the source's `LsnOffset` JSON: a bare
    * number, or null before the first batch. */
  def parseOffset(json: String): Option[Long] =
    Option(json).map(_.trim).filter(s => s.nonEmpty && s != "null").map(_.toLong)

  /** For each event (LSN ascending), the commit time of the batch
    * whose offset range holds its LSN, or -1 when no batch did.
    * Batches with an empty range (start == end) hold nothing. */
  def commitTimes(batches: Seq[BatchCommit], eventLsns: Array[Long]): Array[Long] = {
    val bs = batches.filter(b => b.startLsn.forall(_ < b.endLsn)).sortBy(_.endLsn).toArray
    val out = Array.fill(eventLsns.length)(-1L)
    var j = 0
    var i = 0
    while (i < eventLsns.length) {
      val l = eventLsns(i)
      while (j < bs.length && bs(j).endLsn < l) j += 1
      if (j < bs.length && bs(j).startLsn.forall(_ < l)) out(i) = bs(j).commitMs
      i += 1
    }
    out
  }

  /** Lags (ms) of the events due in `[fromMs, toMs)`; events no batch
    * committed are counted in the second result. */
  def lags(batches: Seq[BatchCommit], eventLsns: Array[Long], eventDueMs: Array[Long],
      fromMs: Long, toMs: Long): (Array[Double], Int) = {
    val commits = commitTimes(batches, eventLsns)
    val lags = Array.newBuilder[Double]
    var missing = 0
    var i = 0
    while (i < eventLsns.length) {
      val due = eventDueMs(i)
      if (due >= fromMs && due < toMs) {
        if (commits(i) < 0) missing += 1 else lags += (commits(i) - due).toDouble
      }
      i += 1
    }
    (lags.result(), missing)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values. */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of no values")
    val s = values.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(values: Seq[Double]): Double = quantile(values, 0.5)
  def mean(values: Seq[Double]): Double = if (values.isEmpty) 0.0 else values.sum / values.size
}
