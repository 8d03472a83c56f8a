package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LagSpec extends AnyFunSuite {

  // three batches over LSNs 10..60; the second admitted nothing
  private val batches = Seq(
    BatchCommit(None, 30L, commitMs = 1000L),
    BatchCommit(Some(30L), 30L, commitMs = 1100L),
    BatchCommit(Some(30L), 60L, commitMs = 2500L))

  test("each event is attributed to the batch whose offset range holds its LSN") {
    val lsns = Array(10L, 30L, 31L, 60L, 61L)
    assert(Lag.commitTimes(batches, lsns).toSeq == Seq(1000L, 1000L, 2500L, 2500L, -1L))
  }

  test("batch order in the progress log does not matter") {
    val lsns = Array(10L, 30L, 31L, 60L)
    assert(Lag.commitTimes(batches.reverse, lsns).toSeq == Lag.commitTimes(batches, lsns).toSeq)
  }

  test("lags are commit minus due, inside the window only; uncommitted events are counted") {
    val lsns = Array(10L, 20L, 40L, 50L, 70L)
    val due = Array(100L, 600L, 900L, 2400L, 2450L)
    val (lags, missing) = Lag.lags(batches, lsns, due, fromMs = 500L, toMs = 2450L)
    assert(lags.toSeq == Seq(400.0, 1600.0, 100.0))
    assert(missing == 0)
    val (_, missingLate) = Lag.lags(batches, lsns, due, fromMs = 500L, toMs = 3000L)
    assert(missingLate == 1)
  }

  test("progress offsets parse as numbers, null as none") {
    assert(Lag.parseOffset("1234") == Some(1234L))
    assert(Lag.parseOffset("-9223372036854775808") == Some(Long.MinValue))
    assert(Lag.parseOffset(null).isEmpty)
    assert(Lag.parseOffset("null").isEmpty)
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.99) - 4.96) < 1e-9)
  }
}
