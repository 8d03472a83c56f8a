package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 CDC frame source — the full-fidelity Spark mapping
  * of the reference's replication consume loop (SURVEY §2.1 S1;
  * /root/reference/utils/postgre_cdc_consumer.py:68-110):
  *
  *  - the replication slot's WAL position becomes an LSN
  *    [[LsnOffset]], tracked write-ahead in the query checkpoint —
  *    restart resumes exactly after the last COMMITTED lsn, where the
  *    reference acks at enqueue time and can lose up to its queue
  *    capacity on crash (`postgre_cdc_consumer.py:99` +
  *    `cdc_consumer.py:16`);
  *  - `commit(end)` is the `send_feedback` analogue
  *    (`postgre_cdc_consumer.py:95-101`): it atomically publishes the
  *    committed lsn to `_feedback/FEEDBACK` in the feed directory, so
  *    the capture side can release WAL / frame files up to it;
  *  - one [[InputPartition]] per stream: a replication stream is
  *    totally ordered, so frames of a batch decode sequentially in
  *    one task (parallelism comes from many streams and from
  *    everything downstream of decode);
  *  - admission control (X1, the bounded-queue analogue,
  *    `cdc_consumer.py:16`): `maxFramesPerTrigger` caps each
  *    micro-batch via [[SupportsAdmissionControl]] instead of a
  *    blocking queue.
  *
  * Transport: a directory of immutable `.cdcf` files (the capture
  * side drops them, atomically renamed), each a sequence of
  * `[lsn i64][ingestMicros i64][len i32][payload bytes]` records —
  * see [[CdcFrameFiles]]. Schema matches [[graft.cdc.CdcFrame]], so
  * `load().as[CdcFrame]` feeds [[graft.cdc.CdcDecode.decode]]
  * directly. Registered as `format("graft-cdc")`.
  */
final class CdcFrameProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFrameFiles.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcFrameTable(properties.get("path"))
}

final class CdcFrameTable(dir: String) extends Table with SupportsRead {
  require(dir != null, "graft-cdc requires .option(\"path\", <frame dir>)")
  override def name(): String = s"graft-cdc:$dir"
  override def schema(): StructType = CdcFrameFiles.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdcFrameScan(dir,
      options.getLong("maxFramesPerTrigger", Long.MaxValue),
      options.getBoolean("txnAtomic", false))
}

final class CdcFrameScan(dir: String, maxFramesPerTrigger: Long, txnAtomic: Boolean)
  extends Scan {
  override def readSchema(): StructType = CdcFrameFiles.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(dir, maxFramesPerTrigger, txnAtomic)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(CdcFramePartition(
        CdcFrameFiles.frameFiles(dir).map(_.toAbsolutePath.toString), Long.MinValue, Long.MaxValue))
    override def createReaderFactory(): PartitionReaderFactory = CdcFrameReaderFactory
  }
}

/** Stream offset = last consumed LSN (inclusive). */
final case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

/** The frames of `files` with `fromExclusive < lsn <= toInclusive`.
  * The driver lists only the files whose LSN span overlaps the range,
  * so a batch never opens a file it admits nothing from. */
final case class CdcFramePartition(files: Seq[String], fromExclusive: Long, toInclusive: Long)
  extends InputPartition

/** @param txnAtomic opt-in transaction-atomic emit (EXCEEDS the
  *   reference, which drops Begin/Commit and freely splits a
  *   transaction across its queue — `utils/pg_output_parser.py:32-37`):
  *   the batch end offset only ever lands on a Commit frame's LSN, so
  *   a micro-batch never splits a transaction and every checkpointed
  *   offset is a transaction boundary. Interaction with
  *   `maxFramesPerTrigger`: the cap is ADVISORY at transaction
  *   granularity — the planned end snaps DOWN to the last Commit
  *   inside the cap when one exists; when a single transaction is
  *   larger than the cap, the batch GROWS to that transaction's
  *   Commit (atomicity outranks admission — a batch must make
  *   progress in whole transactions or not at all); an open
  *   transaction whose Commit frame hasn't landed yet is held back
  *   entirely (offset does not advance).
  *
  *   Protocol v2 STREAMED transactions compose with this for free:
  *   the decoder ([[graft.cdc.PgOutput.Decoder]]) buffers S..E
  *   segment events internally and emits nothing until the Stream
  *   Commit ('c') frame, so an in-progress streamed txn contributes
  *   zero rows to any micro-batch regardless of where the offset
  *   lands — the atomicity boundary for streamed txns is enforced at
  *   decode, not at admission. The only txnAtomic-relevant frame is
  *   'c' itself, which carries the whole txn's events and commits
  *   within one batch by construction. Restart caveat: the buffer
  *   lives in the per-stream decoder instance, so a restart between a
  *   streamed txn's segments and its 'c' frame must replay from a
  *   checkpoint at or before the txn's FIRST 'S' frame — exactly how
  *   PostgreSQL itself re-streams an in-progress txn when a
  *   subscriber reconnects below its commit LSN; a real capture
  *   deployment therefore acks the source only on commit boundaries
  *   (the same rule the exactly-once sink already follows). */
final class CdcMicroBatchStream(dir: String, maxFramesPerTrigger: Long, txnAtomic: Boolean)
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = LsnOffset(Long.MinValue)
  override def deserializeOffset(json: String): Offset = LsnOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    if (maxFramesPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxFramesPerTrigger)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LsnOffset].lsn
    val frames = CdcFrameFiles.framesAfter(dir, from)
    if (frames.isEmpty) return start
    val capped = limit match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        // clamp before .toInt: a Long maxRows above Int.MaxValue would
        // wrap negative and take(n) would return empty → .last throws
        frames.take(math.min(rl.maxRows(), Int.MaxValue.toLong).toInt)
      case _ => frames
    }
    if (!txnAtomic) LsnOffset(capped.last._1)
    else {
      // snap the end DOWN to the last Commit inside the cap; the open
      // transaction's tail frames wait for their own Commit
      val lastCommit = capped.lastIndexWhere(_._2 == PgCommitTag)
      if (lastCommit >= 0) LsnOffset(capped(lastCommit)._1)
      else frames.find(_._2 == PgCommitTag) match {
        // one transaction larger than the cap: grow to its Commit
        case Some((lsn, _)) => LsnOffset(lsn)
        case None =>
          // No Commit anywhere in the backlog. If a Begin is pending,
          // a transaction is genuinely open — hold its frames until
          // the Commit lands. If NOTHING opens a transaction either,
          // the backlog is non-transactional (standalone changes, or
          // trailing R/M metadata after a quiet stream's last Commit)
          // and holding it would stall the stream forever: admit it
          // normally. (txnAtomic snaps every batch to a Commit
          // boundary, so an open transaction's Begin is always inside
          // the backlog — unless txnAtomic was toggled on mid-stream
          // against a checkpoint that ended mid-transaction, which
          // this safety valve does not try to repair.)
          if (frames.exists(_._2 == PgBeginTag)) start
          else {
            if (nonTxnWarned.compareAndSet(false, true))
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"txnAtomic=1 but the pending backlog in $dir has no Begin/Commit " +
                  "markers; admitting it as non-transactional (a marker-free feed " +
                  "cannot be batched atomically)")
            LsnOffset(capped.last._1)
          }
      }
    }
  }

  private val PgCommitTag: Byte = 'C'.toByte
  private val PgBeginTag: Byte = 'B'.toByte
  private val nonTxnWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  override def reportLatestOffset(): Offset =
    CdcFrameFiles.latestLsn(dir).map(LsnOffset).orNull

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LsnOffset].lsn
    val to = end.asInstanceOf[LsnOffset].lsn
    Array(CdcFramePartition(CdcFrameFiles.filesOverlapping(dir, from, to), from, to))
  }

  override def createReaderFactory(): PartitionReaderFactory = CdcFrameReaderFactory

  /** The `send_feedback` analogue: publish the committed LSN so the
    * capture side can trim WAL / frame files up to it. Atomic
    * tmp-write + move — readers never see a torn value. The engine
    * commits batch N when batch N+1 starts, so feedback trails the
    * newest processed lsn by one batch — exactly-once is carried by
    * the checkpoint, feedback is only the trim signal (PG's flush
    * feedback trails the same way). */
  override def commit(end: Offset): Unit =
    CdcFrameFiles.writeFeedback(dir, end.asInstanceOf[LsnOffset].lsn)

  override def stop(): Unit = ()
}

object CdcFrameReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcFramePartition]
    // one stream = one ordered partition: the range's frames from the
    // files the driver planned, in lsn order
    new PartitionReader[InternalRow] {
      private val frames =
        CdcFrameFiles.read(p.files, p.fromExclusive, p.toInclusive).iterator
      private var current: (Long, Long, Array[Byte]) = _
      override def next(): Boolean =
        if (frames.hasNext) { current = frames.next(); true } else false
      override def get(): InternalRow =
        InternalRow(current._1, current._2, current._3)
      override def close(): Unit = ()
    }
  }
}

/** The `.cdcf` frame-file transport: reader/writer shared by the DSv2
  * source, the capture side, and tests. */
object CdcFrameFiles {

  val Schema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("ingestMicros", LongType, nullable = false),
    StructField("payload", BinaryType)))

  /** Write one immutable frame file (tmp + atomic rename; the source
    * lists only `*.cdcf`, so half-written tmp files are invisible). */
  def write(dir: String, name: String, frames: Seq[graft.cdc.CdcFrame]): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = d.resolve(s".$name.tmp")
    val out = new DataOutputStream(Files.newOutputStream(tmp))
    try frames.foreach { f =>
      out.writeLong(f.lsn); out.writeLong(f.ingestMicros)
      out.writeInt(f.payload.length); out.write(f.payload)
    } finally out.close()
    Files.move(tmp, d.resolve(s"$name.cdcf"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def frameFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      // Files.list streams hold a directory fd until closed
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".cdcf")).toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** Walk one file's records through a buffered stream (one syscall
    * per buffer, not per header field). `onRecord(lsn, ingestMicros,
    * len, in)` must consume exactly the `len` payload bytes. A
    * truncated record throws `EOFException`. */
  private def eachRecord(file: Path)(onRecord: (Long, Long, Int, DataInputStream) => Unit): Unit = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file)))
    try {
      var more = true
      while (more) {
        val lsn = try in.readLong() catch { case _: EOFException => more = false; 0L }
        if (more) {
          val ingestMicros = in.readLong()
          onRecord(lsn, ingestMicros, in.readInt(), in)
        }
      }
    } finally in.close()
  }

  /** The frames of `files` with `fromExclusive < lsn <= toInclusive`,
    * in lsn order (files may be listed out of lsn order). Payload
    * bodies outside the range are skipped, never copied. */
  private[sources] def read(
      files: Seq[String], fromExclusive: Long, toInclusive: Long): Seq[(Long, Long, Array[Byte])] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Array[Byte])]()
    files.foreach(f => eachRecord(Paths.get(f)) { (lsn, ingestMicros, len, in) =>
      if (lsn > fromExclusive && lsn <= toInclusive) {
        val payload = new Array[Byte](len)
        in.readFully(payload)
        buf += ((lsn, ingestMicros, payload))
      } else in.skipNBytes(len.toLong)
    })
    buf.sortBy(_._1).toSeq
  }

  /** One file's planning index: its (lsn, tag) list and LSN span. The
    * tag is each payload's FIRST byte — the pgoutput message tag
    * ('B'/'C'/'I'/…; 0 for an empty payload) — so the txn-atomic
    * planner can spot Commit frames without touching payload bodies.
    * An empty file has `minLsn > maxLsn` and overlaps no range. */
  private[sources] final case class FileIndex(
      size: Long, mtimeMillis: Long, frames: Seq[(Long, Byte)]) {
    val minLsn: Long = if (frames.isEmpty) Long.MaxValue else frames.iterator.map(_._1).min
    val maxLsn: Long = if (frames.isEmpty) Long.MinValue else frames.iterator.map(_._1).max
  }

  /** Driver-side planning cache: absolute file path → [[FileIndex]].
    * Frame files are immutable once atomically renamed into place, so
    * (size, mtime) validates an entry; `write`'s REPLACE_EXISTING
    * overwrites change both. Each file is skip-scanned once; after
    * that, planning a trigger costs O(files) — files whose `maxLsn`
    * is at or below the start offset are passed over by their span
    * alone, without touching their frame lists. */
  private[sources] val lsnCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileIndex]()

  private def indexOf(file: Path): FileIndex = {
    val key = file.toAbsolutePath.toString
    val size = Files.size(file)
    val mtime = Files.getLastModifiedTime(file).toMillis
    val hit = lsnCache.get(key)
    if (hit != null && hit.size == size && hit.mtimeMillis == mtime) hit
    else {
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Byte)]()
      eachRecord(file) { (lsn, _, len, in) =>
        val tag = if (len > 0) in.readByte() else 0: Byte
        in.skipNBytes(len.toLong - (if (len > 0) 1 else 0))
        buf += ((lsn, tag))
      }
      val idx = FileIndex(size, mtime, buf.toSeq)
      lsnCache.put(key, idx)
      idx
    }
  }

  /** Every frame file of `dir` with its index. Entries for files
    * trimmed away (feedback-based deletion) are pruned so the cache
    * tracks the live directory. */
  private def indexed(dir: String): Seq[(Path, FileIndex)] = {
    val files = frameFiles(dir)
    val live = files.map(_.toAbsolutePath.toString).toSet
    // prune only DIRECT children of this dir: a prefix match would
    // also evict entries of a nested stream's directory (/data vs
    // /data/sub) on every trigger, permanently defeating its cache
    val dirAbs = Paths.get(dir).toAbsolutePath.toString
    lsnCache.keySet.removeIf { k =>
      val parent = Paths.get(k).getParent
      parent != null && parent.toString == dirAbs && !live.contains(k)
    }
    files.map(f => (f, indexOf(f)))
  }

  /** (LSN, pgoutput tag) strictly after `from`, ascending (driver-side
    * listing for offset planning). */
  def framesAfter(dir: String, from: Long): Seq[(Long, Byte)] =
    indexed(dir).filter(_._2.maxLsn > from)
      .flatMap(_._2.frames.filter(_._1 > from)).sortBy(_._1)

  /** The newest LSN in `dir`, if it holds any frame. */
  private[sources] def latestLsn(dir: String): Option[Long] =
    indexed(dir).map(_._2).filter(_.frames.nonEmpty).map(_.maxLsn).maxOption

  /** The files of `dir` whose LSN span overlaps `(from, to]`. */
  private[sources] def filesOverlapping(dir: String, from: Long, to: Long): Seq[String] =
    indexed(dir).collect {
      case (f, i) if i.maxLsn > from && i.minLsn <= to => f.toAbsolutePath.toString
    }

  /** Last committed LSN published to the capture side, if any. */
  def readFeedback(dir: String): Option[Long] = {
    val f = Paths.get(dir, "_feedback", "FEEDBACK")
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f)).trim.toLong) else None
  }

  def writeFeedback(dir: String, lsn: Long): Unit = {
    val d = Paths.get(dir, "_feedback")
    Files.createDirectories(d)
    val tmp = d.resolve(s".FEEDBACK.$lsn.tmp")
    Files.write(tmp, lsn.toString.getBytes)
    Files.move(tmp, d.resolve("FEEDBACK"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
