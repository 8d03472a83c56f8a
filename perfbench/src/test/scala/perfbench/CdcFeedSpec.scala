package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcDecode
import graft.sources.CdcFrameFiles

class CdcFeedSpec extends AnyFunSuite {

  private def backlogBytes(seed: Long, dir: Path): Array[Byte] = {
    val feed = new CdcFeed(seed)
    val frames = feed.relationFrame(CdcFeed.CommitBaseMicros) +:
      feed.transactions(300, CdcFeed.Mix(500, 0.25, 0.5), CdcFeed.CommitBaseMicros, 0L).toSeq
    CdcFrameFiles.write(dir.toString, s"s$seed", frames)
    Files.readAllBytes(dir.resolve(s"s$seed.cdcf"))
  }

  test("equal seeds give byte-identical frame files; other seeds differ") {
    val a = Files.createTempDirectory("feed-a")
    val b = Files.createTempDirectory("feed-b")
    assert(java.util.Arrays.equals(backlogBytes(7L, a), backlogBytes(7L, b)))
    assert(!java.util.Arrays.equals(backlogBytes(7L, a), backlogBytes(8L, b)))
  }

  test("decoding the feed and applying it in LSN order reproduces the generator's model") {
    val feed = new CdcFeed(3L)
    val frames = feed.relationFrame(0L) +: (feed.transactions(100, CdcFeed.Mix(50, 0.25, 0.0), 0L, 0L) ++
      feed.transactions(100, CdcFeed.Mix(20, 0.05, 0.5), 0L, 0L)).toSeq
    val events = CdcDecode.decodeSeq(frames)
    assert(events.map(_.lsn) == feed.eventLsn.toArray.toSeq)
    val state = scala.collection.mutable.Map[String, Map[String, String]]()
    events.foreach { e =>
      e.operation match {
        case "DELETE" => state -= e.oldValues.get(CdcFeed.KeyCol)
        case _ =>
          val nv = e.newValues.get
          val prev = state.getOrElse(nv(CdcFeed.KeyCol), Map.empty[String, String])
          state(nv(CdcFeed.KeyCol)) = nv.map { case (k, v) =>
            k -> (if (v == graft.cdc.CdcEvent.UnchangedSentinel) prev(k) else v)
          }
      }
    }
    val model = scala.jdk.CollectionConverters.MapHasAsScala(feed.model).asScala
    assert(state.keySet == model.keySet.map(_.toString))
    model.foreach { case (k, row) =>
      assert(CdcFeed.ValueCols.map(state(k.toString)) == row.toSeq)
    }
  }

  test("generator log lookups count frames, events and keys by LSN range") {
    val feed = new CdcFeed(1L)
    feed.relationFrame(0L)
    feed.transactions(2, CdcFeed.Mix(10, 0.0, 0.0), 0L, 0L)
    val lsns = feed.frameLsn.toArray
    assert(lsns.length == 13)
    assert(feed.framesUpTo(lsns(6)) == 7)
    // frames 1..6 are B, four changes, C: the first transaction
    assert(feed.eventsBetween(lsns(0), lsns(6)) == 4)
    assert(feed.keysBetween(Long.MinValue, Long.MaxValue) <= 8)
  }
}
