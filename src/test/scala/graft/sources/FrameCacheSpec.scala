package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.SparkSpec
import graft.cdc.CdcFrame

/** Driver-side frame-file LSN cache behavior and the LSN-range frame
  * reader (no Spark session needed beyond the shared fixture). */
class FrameCacheSpec extends SparkSpec {

  private def frame(lsn: Long) = CdcFrame(lsn, lsn * 10, Array[Byte](lsn.toByte, 2, 3))

  /** Frames `from..to` inclusive, one file. */
  private def writeRange(dir: String, name: String, from: Long, to: Long): Unit =
    CdcFrameFiles.write(dir, name, (from to to).map(frame))

  private def stream(dir: String) = new CdcMicroBatchStream(dir, Long.MaxValue, txnAtomic = false)

  private def plan(dir: String, from: Long, to: Long): CdcFramePartition =
    stream(dir).planInputPartitions(LsnOffset(from), LsnOffset(to)) match {
      case Array(p: CdcFramePartition) => p
      case ps => fail(s"expected one partition, got ${ps.toSeq}")
    }

  /** (lsn, ingestMicros, payload) rows the partition's reader returns. */
  private def read(p: InputPartition): Seq[(Long, Long, Seq[Byte])] = {
    val r = CdcFrameReaderFactory.createReader(p)
    val out = Seq.newBuilder[(Long, Long, Seq[Byte])]
    try while (r.next()) {
      val row = r.get()
      out += ((row.getLong(0), row.getLong(1), row.getBinary(2).toSeq))
    } finally r.close()
    out.result()
  }

  private def expected(lsns: Seq[Long]) = lsns.map(l => (l, l * 10, frame(l).payload.toSeq))

  test("a partition returns exactly from < lsn <= to in lsn order: out-of-name-order and straddling files") {
    val dir = Files.createTempDirectory("cdcf_range").toString
    // name order a, b, c; lsn order b, c, a
    writeRange(dir, "a", 21, 30)
    writeRange(dir, "b", 1, 10)
    writeRange(dir, "c", 11, 20)
    // (5, 25] straddles b at `from` and a at `to`
    val p = plan(dir, 5, 25)
    assert(read(p) == expected(6L to 25L))
    assert(p.files.map(Paths.get(_).getFileName.toString).toSet == Set("a.cdcf", "b.cdcf", "c.cdcf"))
    // a range inside one file lists only that file; an empty range none
    assert(plan(dir, 10, 20).files.map(Paths.get(_).getFileName.toString) == Seq("c.cdcf"))
    assert(read(plan(dir, 10, 20)) == expected(11L to 20L))
    assert(plan(dir, 30, 40).files.isEmpty && read(plan(dir, 30, 40)).isEmpty)
    // planning from the per-file spans agrees with the frames
    assert(stream(dir).reportLatestOffset() == LsnOffset(30))
    assert(stream(dir).latestOffset(LsnOffset(5), ReadLimit.maxRows(3)) == LsnOffset(8))
    assert(stream(dir).latestOffset(LsnOffset(30), ReadLimit.allAvailable()) == LsnOffset(30))
    // the batch scan reads every file through the same reader
    val all = spark.read.format("graft-cdc").option("path", dir).load()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSeq
    assert(all == expected(1L to 30L))
  }

  test("a corrupt file wholly outside the range is never opened") {
    val dir = Files.createTempDirectory("cdcf_corrupt").toString
    writeRange(dir, "a", 1, 10)
    writeRange(dir, "b", 11, 20)
    writeRange(dir, "c", 21, 30)
    val p = plan(dir, 10, 20)
    // a record is 20 header bytes + 3 payload bytes: cut a inside its
    // second header and c inside its first payload
    for ((name, keep) <- Seq("a" -> 33L, "c" -> 22L)) {
      val f = Paths.get(dir, s"$name.cdcf")
      val ch = Files.newByteChannel(f, StandardOpenOption.WRITE)
      try ch.truncate(keep) finally ch.close()
      intercept[java.io.EOFException](CdcFrameFiles.read(Seq(f.toString), Long.MinValue, Long.MaxValue))
    }
    assert(read(p) == expected(11L to 20L))
  }

  test("a batch replayed after restart reads the same frames, with new files landed in between") {
    val dir = Files.createTempDirectory("cdcf_replay").toString
    writeRange(dir, "m", 1, 10)
    writeRange(dir, "n", 11, 20)
    val first = read(plan(dir, 4, 15))
    // new files land (one sorting before the old ones by name), then a
    // restart: a fresh JVM starts with an empty planning cache
    writeRange(dir, "a", 31, 40)
    writeRange(dir, "z", 21, 30)
    val dirAbs = Paths.get(dir).toAbsolutePath.toString
    CdcFrameFiles.lsnCache.keySet.removeIf(_.startsWith(dirAbs))
    assert(read(plan(dir, 4, 15)) == first)
    assert(first == expected(5L to 15L))
  }

  test("lsnsAfter prunes only direct children: a nested stream's cache survives") {
    val outer = Files.createTempDirectory("cdcf_outer").toString
    val inner = Paths.get(outer, "sub").toString
    CdcFrameFiles.write(outer, "a", Seq(frame(1)))
    CdcFrameFiles.write(inner, "b", Seq(frame(2)))
    // populate both caches
    assert(CdcFrameFiles.lsnsAfter(outer, 0) == Seq(1L))
    assert(CdcFrameFiles.lsnsAfter(inner, 0) == Seq(2L))
    val innerKey = Paths.get(inner, "b.cdcf").toAbsolutePath.toString
    assert(CdcFrameFiles.lsnCache.containsKey(innerKey))
    // outer trigger must NOT evict the nested stream's entries
    CdcFrameFiles.lsnsAfter(outer, 0)
    assert(CdcFrameFiles.lsnCache.containsKey(innerKey),
      "outer-dir prune evicted a nested stream's cache entry")
    // trimmed files in the SAME dir are still pruned
    Files.delete(Paths.get(outer, "a.cdcf"))
    CdcFrameFiles.lsnsAfter(outer, 0)
    val outerKey = Paths.get(outer, "a.cdcf").toAbsolutePath.toString
    assert(!CdcFrameFiles.lsnCache.containsKey(outerKey),
      "deleted file's cache entry not pruned")
  }
}
