package graft.cdc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** pgoutput logical-replication protocol — pure, zero-I/O decode over
  * `Array[Byte]`, plus the encoder used by tests/fixtures. Implements
  * proto v1 plus the v2 streamed-transaction frames (PG14+
  * `streaming on`): Stream Start 'S' / Stop 'E' / Commit 'c' /
  * Abort 'A', with the Int32 xid prefix v2 adds to every message
  * inside a stream segment.
  *
  * Wire grammar implemented to the reference's observable semantics
  * (/root/reference/utils/pg_output_parser.py:15-218; SURVEY.md §2.2 —
  * the reference is v1-only, utils/postgre_cdc_consumer.py:77):
  *
  *  - dispatch on the first byte: R (relation), I/U/D (changes),
  *    B/C (transaction markers, deliberately dropped — reference
  *    :32-37), T (truncate), M (message), Y (type → registry),
  *    O (origin, consumed), S/E/c/A (v2 streamed txns), anything
  *    else → no event;
  *  - Relation: u32 id, NUL-terminated namespace + name, replica
  *    identity byte, u16 column count, per column (u8 flags,
  *    NUL-terminated name, u32 type OID, i32 typmod). Registered in a
  *    per-stream registry; changes for unregistered relations are
  *    dropped with a warning counter (reference :138-141);
  *  - tuple data: u16 column count, then per column one tag:
  *    'n' → NULL, 'u' → the "[unchanged]" sentinel, 't' → u32 length +
  *    UTF-8 text, 'b' → u32 length + bytes surfaced as lowercase hex
  *    (reference :99-128, SURVEY §1.3);
  *  - INSERT: u32 relation id, 'N', new image (:130-156);
  *  - UPDATE: u32 relation id, optional 'O'(full)/'K'(key-only) old
  *    image, then 'N' new image (:158-192);
  *  - DELETE: u32 relation id, 'O'/'K', old image (:194-218).
  *
  * The decoder is a small mutable class (the relation registry is
  * inherently stateful per stream) with pure methods; one instance per
  * stream partition keeps decode embarrassingly parallel across
  * partitions while preserving in-partition frame order.
  */
object PgOutput {

  /** PostgreSQL timestamps count µs from 2000-01-01T00:00:00Z; Unix
    * from 1970-01-01 — 946,684,800 seconds apart. */
  val PgEpochOffsetMicros: Long = 946684800000000L

  /** Hard cap on events buffered for in-progress streamed (v2)
    * transactions, across all of a decoder's open top-level xids.
    * Streamed txns are uncommitted until their Stream Commit frame, so
    * the consumer must hold (or spill) them — PostgreSQL's own apply
    * worker spills to disk; this in-memory decoder fails fast instead
    * of OOMing the executor. A production deployment that expects
    * multi-GB streamed transactions would swap the buffer for a
    * spill-to-local-disk map behind the same decode interface. */
  val MaxBufferedStreamedEvents: Int = 1 << 20

  final case class ColumnInfo(name: String, typeId: Int, flags: Int, typeMod: Int)
  final case class RelationInfo(
      id: Int, schema: String, table: String,
      replicaIdentity: Char, columns: IndexedSeq[ColumnInfo])
  /** Custom (non-builtin) data type announced by a 'Y' Type message
    * (sent before the first Relation that references it): OID plus
    * the qualified source-side name. */
  final case class TypeInfo(id: Int, namespace: String, name: String)

  /** Tuple image as ordered (columnName → wire value) pairs; value is
    * null for SQL NULL and "[unchanged]" for the TOAST sentinel. */
  type Image = Map[String, String]

  // ------------------------------------------------------------ decode

  final class Decoder {
    private val relations = scala.collection.mutable.Map[Int, RelationInfo]()
    private var unknownRelationDrops = 0L
    // current transaction id = LSN of the open txn's Begin frame
    // (restart-stable; see the 'B' case in decode)
    private var txnSeq = 0L
    private var inTxn = false
    // the open txn's commit timestamp (Unix µs), when the Begin frame
    // carried the full protocol body — the feed-side EVENT TIME
    private var txnCommitMicros: Option[Long] = None

    // ---- protocol v2 streamed (in-progress) transactions ----
    // Between a Stream Start ('S') and Stream Stop ('E') every message
    // carries an Int32 xid right after the type byte (the SUBtxn's xid
    // when inside a subtransaction; the segment's top-level xid is the
    // one in the 'S' frame). Events buffer per top-level xid until
    // Stream Commit ('c') emits them or Stream Abort ('A') discards
    // them — an uncommitted txn must never reach the changelog.
    private var segmentXid: Option[Int] = None
    private val streamFirstLsn = scala.collection.mutable.Map[Int, Long]()
    private val streamBuf =
      scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[(Int, CdcEvent)]]()
    // Highest frame LSN already buffered per top-level xid: appends
    // are skipped for lsn ≤ watermark, so REPLAYING a frame range
    // into this shared per-stream decoder (speculative task retry, a
    // second action over the same batch) cannot double-buffer events
    // — the same idempotence the relation registry has by nature.
    // Removed together with the buffer at commit/full-abort, so a
    // full re-decode of a whole transaction (txnAtomic batch retry)
    // rebuilds it from scratch; kept on subtxn abort, so replays of
    // the aborted subtxn's frames do not resurrect its events.
    // The watermark's replay inference assumes LSN-ordered arrival
    // WITHIN a segment (file feeds deliver name/mtime order;
    // CdcDecode offers sortByLsn for unordered feeds). streamSeenLsn
    // records every frame LSN actually routed per open xid, so a
    // frame at-or-under the watermark that was NEVER seen is
    // distinguishable from a replay: that is an out-of-order or
    // duplicate-LSN feed, and silently dropping it would lose its
    // events — it raises MalformedFrame instead (counted/dropped
    // under dropMalformed, loud under strict; ADVICE r11). One long
    // per in-segment frame while the txn is open, released with the
    // rest of the txn state at commit/full-abort.
    private val streamMaxLsn = scala.collection.mutable.Map[Int, Long]()
    private val streamSeenLsn = scala.collection.mutable.Map[Int, scala.collection.mutable.Set[Long]]()
    private var abortDiscards = 0L
    // 'Y' Type registry — pure metadata, no events (values surface
    // through the getters below; typed-projection layers can map
    // custom-type OIDs to names)
    private val types = scala.collection.mutable.Map[Int, TypeInfo]()

    /** Registered relations (read-only view). */
    def relationRegistry: collection.Map[Int, RelationInfo] = relations

    /** Count of change messages dropped because their relation id was
      * never registered (reference logs a warning; we count). */
    def droppedUnknownRelation: Long = unknownRelationDrops

    /** Events discarded because their streamed (sub)transaction
      * aborted — the at-scale observability counter pairing
      * [[droppedUnknownRelation]]. */
    def streamedAbortDiscards: Long = abortDiscards

    /** Events currently buffered for in-progress streamed txns
      * (bounded by [[MaxBufferedStreamedEvents]]). */
    def bufferedStreamedEvents: Long =
      streamBuf.valuesIterator.map(_.size.toLong).sum

    /** True while decoding inside a v2 S..E stream segment — i.e.
      * while incoming messages carry the Int32 xid prefix. Callers
      * that persist raw frames (the R-frame registry snapshot) must
      * strip the prefix for frames seen in this state, or a fresh
      * decoder will replay them misparsed. */
    def inStreamSegment: Boolean = synchronized { segmentXid.isDefined }

    /** Custom types announced by 'Y' Type messages (read-only view). */
    def typeRegistry: collection.Map[Int, TypeInfo] = types

    /** Decode one frame. Relation messages update the registry and
      * yield no event; B/C markers are dropped; I/U/D yield an event
      * unless malformed or the relation is unregistered.
      * `lsn` is the frame's position in the stream (commit order;
      * drives MERGE ordering downstream); `timestampMicros` stamps the
      * event (ingest time or a fixed test literal — never a hidden
      * wall-clock read). Malformed frames throw
      * [[MalformedFrame]] — callers choose drop vs fail.
      *
      * Synchronized: one decoder instance is shared per stream across
      * micro-batches (CdcDecode registry), and although a stream
      * decodes as a single partition, Spark may run tasks of
      * overlapping batches or speculative retries concurrently — an
      * unsynchronized registry map would race. A stream's decode is
      * inherently sequential, so the lock costs nothing. */
    def decode(payload: Array[Byte], lsn: Long, timestampMicros: Long): Option[CdcEvent] = {
      val evts = decodeAll(payload, lsn, timestampMicros)
      // Silently surfacing only the head of a multi-event frame would
      // lose the rest (a multi-table TRUNCATE's other tables, a v2
      // Stream Commit's whole buffered txn) — fail loudly instead; the
      // streaming path flatMaps decodeAll and never hits this.
      require(evts.lengthCompare(1) <= 0,
        s"frame decodes to ${evts.length} events (multi-relation TRUNCATE " +
          "or v2 Stream Commit) — use decodeAll")
      evts.headOption
    }

    /** [[decode]] for frames that may carry MULTIPLE events: a
      * TRUNCATE frame names every table cut in one statement
      * (ITU-free public protocol, PG docs "protocol-logical-
      * replication" §Truncate: Int32 nrelations, Int8 option bits,
      * then the relation ids) and yields one event per KNOWN
      * relation. All single-event frames return 0-or-1 exactly as
      * [[decode]] does — the streaming path flatMaps this form so a
      * multi-table truncate never loses tables. */
    def decodeAll(payload: Array[Byte], lsn: Long, timestampMicros: Long): Seq[CdcEvent] = synchronized {
      if (payload == null || payload.isEmpty) return Seq.empty
      val buf = ByteBuffer.wrap(payload, 1, payload.length - 1)
      val msgType = payload(0).toChar
      try {
      // v2 xid prefix: inside a stream segment every message type that
      // exists in v1 gains a leading Int32 xid (PG docs §"Logical
      // Replication Message Formats": "Xid of the transaction (only
      // present for streamed transactions in protocol version 2)").
      // Read INSIDE the try: a truncated in-segment frame must surface
      // as MalformedFrame (the decoder's error contract), not a raw
      // BufferUnderflowException that escapes dropMalformed.
      val msgXid: Option[Int] =
        if (segmentXid.isDefined && "RIUDTMY".indexOf(msgType) >= 0) Some(buf.getInt)
        else None
      def route(evts: Seq[CdcEvent]): Seq[CdcEvent] = msgXid match {
        case Some(x) =>
          val top = segmentXid.get
          if (!streamMaxLsn.get(top).exists(_ >= lsn)) {
            val b = streamBuf.getOrElseUpdate(
              top, scala.collection.mutable.ArrayBuffer.empty[(Int, CdcEvent)])
            if (bufferedStreamedEvents + evts.size > MaxBufferedStreamedEvents)
              throw new IllegalStateException(
                s"streamed-txn buffer exceeds $MaxBufferedStreamedEvents events " +
                  s"(open xids: ${streamBuf.keys.mkString(",")}); " +
                  "spill-to-disk decode is the production path for multi-GB streamed txns")
            evts.foreach(e => b += ((x, e)))
            streamMaxLsn(top) = lsn
            streamSeenLsn.getOrElseUpdate(top, scala.collection.mutable.Set.empty) += lsn
          } else if (!streamSeenLsn.get(top).exists(_.contains(lsn)))
            // at-or-under the watermark but never routed: not a
            // replay — an out-of-order or duplicate-LSN feed frame
            // whose events a silent skip would lose (see streamSeenLsn)
            throw new MalformedFrame(
              s"in-segment frame at lsn=$lsn is under xid=$top's replay watermark " +
                s"(${streamMaxLsn(top)}) but was never buffered — out-of-order or " +
                "duplicate-LSN feed; use CdcDecode(sortByLsn = true) for unordered feeds")
          Seq.empty
        case None => evts
      }
      msgType match {
        case 'R' => parseRelation(buf); Seq.empty
        case 'I' => route(parseInsert(buf, lsn, timestampMicros).toSeq)
        case 'U' => route(parseUpdate(buf, lsn, timestampMicros).toSeq)
        case 'D' => route(parseDelete(buf, lsn, timestampMicros).toSeq)
        case 'T' => route(parseTruncate(buf, lsn, timestampMicros))
        case 'M' => route(parseMessage(buf, lsn, timestampMicros).toSeq)
        // Txn markers yield no event, but B/C delimit a transaction
        // id stamped on the events in between — the opt-in grouping
        // the reference drops (pg_output_parser.py:32-37; SURVEY §2.2
        // D7). The id is the Begin frame's LSN, not a counter: LSNs
        // are durable in the stream, so the id is stable across JVM
        // restarts / decoder re-creation (a counter restarts at 0 and
        // collides with pre-crash ids if ever persisted or joined).
        // A protocol-complete Begin body is (final LSN i64, commit
        // timestamp i64 µs since 2000-01-01 UTC, xid i32) — the commit
        // timestamp is the SOURCE's clock for the whole transaction,
        // the event time watermarks should key on (the reference
        // stamps consumer wall clock instead, utils/cdc_event.py:14 —
        // SURVEY §1.4 flags that as unusable for late-data
        // reasoning). Empty-body Begin frames (legacy fixtures)
        // decode with no commit time and events fall back to ingest
        // time downstream.
        case 'B' =>
          txnSeq = lsn; inTxn = true
          txnCommitMicros =
            if (buf.remaining >= 20) {
              buf.getLong // final LSN of the txn (unused: we track frame LSNs)
              Some(buf.getLong + PgEpochOffsetMicros)
            } else if (buf.remaining == 0) None // legacy empty-body fixture
            else throw new MalformedFrame(
              s"begin frame with ${buf.remaining}-byte body (protocol body is 20 bytes)")
          Seq.empty
        case 'C' => inTxn = false; Seq.empty
        // Type ('Y', sent when the publication carries non-builtin
        // column types): Int32 OID, namespace, name. Registry only —
        // no event; typed projection maps OIDs to names from here.
        case 'Y' =>
          val id = buf.getInt
          types(id) = TypeInfo(id, readCString(buf), readCString(buf))
          Seq.empty
        // Origin ('O', cascading/bidirectional replication): Int64
        // origin commit LSN, origin name. Consumed and dropped: it
        // yields no event of its own.
        case 'O' =>
          buf.getLong // commit LSN on the origin node
          readCString(buf)
          Seq.empty
        // ---- v2 streamed-transaction frames (PG14+ `streaming on`) ----
        // Stream Start: Int32 xid, Int8 first-segment flag. Segments of
        // DIFFERENT top-level txns interleave at segment granularity;
        // the txn id we stamp at commit is the first segment's frame
        // LSN (durable in the stream, same restart-stability argument
        // as the Begin-LSN id above — an xid would survive too but
        // wraps at 2^32 on the source).
        case 'S' =>
          val xid = buf.getInt
          buf.get() // first-segment flag (derivable from streamFirstLsn)
          segmentXid = Some(xid)
          if (!streamFirstLsn.contains(xid)) streamFirstLsn(xid) = lsn
          Seq.empty
        // Stream Stop: empty body, closes the current segment.
        case 'E' => segmentXid = None; Seq.empty
        // Stream Commit: Int32 xid, Int8 flags, Int64 commit LSN,
        // Int64 end LSN, Int64 commit timestamp (µs since 2000-01-01).
        // Emits the buffered events in wire arrival order, each stamped
        // with the txn id and the SOURCE's commit time — so downstream
        // event-time watermarks behave identically for streamed and
        // non-streamed transactions.
        case 'c' =>
          val xid = buf.getInt
          buf.get()   // flags (0 per spec)
          buf.getLong // commit LSN
          buf.getLong // end LSN
          val commitTs = buf.getLong + PgEpochOffsetMicros
          val seq = streamFirstLsn.remove(xid).getOrElse(lsn)
          val evts = streamBuf.remove(xid).map(_.toSeq).getOrElse(Seq.empty)
          streamMaxLsn.remove(xid) // a full txn re-decode rebuilds from scratch
          streamSeenLsn.remove(xid)
          evts.map { case (_, e) =>
            e.copy(txnSeq = Some(seq), commitMicros = Some(commitTs))
          }
        // Stream Abort: Int32 top-level xid, Int32 subtransaction xid.
        // subXid == xid aborts the whole txn (discard everything);
        // otherwise only the subtransaction's events are discarded —
        // they are identifiable because each buffered event kept the
        // xid its message carried, which is the SUBtxn's inside one.
        case 'A' =>
          val xid = buf.getInt
          val subXid = buf.getInt
          if (subXid == xid) {
            abortDiscards += streamBuf.remove(xid).map(_.size.toLong).getOrElse(0L)
            streamFirstLsn.remove(xid)
            streamMaxLsn.remove(xid)
            streamSeenLsn.remove(xid)
          } else streamBuf.get(xid).foreach { b =>
            // watermark KEPT on subtxn abort: replays of the aborted
            // subtxn's frames must not resurrect its events
            val before = b.size
            b.filterInPlace(_._1 != subXid)
            abortDiscards += before - b.size
          }
          Seq.empty
        case _ => Seq.empty
      }
      } catch {
        case e: MalformedFrame => throw e
        case e: java.nio.BufferUnderflowException =>
          throw new MalformedFrame(s"truncated ${payload(0).toChar} frame (${payload.length} bytes)", e)
      }
    }

    private def parseRelation(buf: ByteBuffer): Unit = {
      val id = buf.getInt
      val schema = readCString(buf)
      val table = readCString(buf)
      val replicaIdentity = (buf.get() & 0xff).toChar
      val nCols = buf.getShort & 0xffff
      val cols = (0 until nCols).map { _ =>
        val flags = buf.get() & 0xff
        val name = readCString(buf)
        val typeId = buf.getInt
        val typeMod = buf.getInt
        ColumnInfo(name, typeId, flags, typeMod)
      }
      relations(id) = RelationInfo(id, schema, table, replicaIdentity, cols.toIndexedSeq)
    }

    private def parseInsert(buf: ByteBuffer, lsn: Long, ts: Long): Option[CdcEvent] =
      withRelation(buf) { rel =>
        if (buf.get().toChar != 'N') None
        else Some(event("INSERT", rel, old = None, neu = Some(readTuple(buf, rel)), lsn, ts))
      }

    private def parseUpdate(buf: ByteBuffer, lsn: Long, ts: Long): Option[CdcEvent] =
      withRelation(buf) { rel =>
        var old: Option[Image] = None
        var tag = buf.get().toChar
        if (tag == 'O' || tag == 'K') {
          old = Some(readTuple(buf, rel))
          tag = buf.get().toChar
        }
        val neu = if (tag == 'N') Some(readTuple(buf, rel)) else None
        Some(event("UPDATE", rel, old, neu, lsn, ts))
      }

    private def parseDelete(buf: ByteBuffer, lsn: Long, ts: Long): Option[CdcEvent] =
      withRelation(buf) { rel =>
        val tag = buf.get().toChar
        if (tag != 'O' && tag != 'K') None
        else Some(event("DELETE", rel, old = Some(readTuple(buf, rel)), neu = None, lsn, ts))
      }

    private def withRelation(buf: ByteBuffer)(f: RelationInfo => Option[CdcEvent]): Option[CdcEvent] = {
      val id = buf.getInt
      relations.get(id) match {
        case Some(rel) => f(rel)
        case None => unknownRelationDrops += 1; None
      }
    }

    /** Logical decoding Message (PG14+ in pgoutput when `messages
      * 'true'` is negotiated): Int8 flags (1 = transactional), Int64
      * message LSN, prefix cstring, Int32 content length, content
      * bytes — the application side-channel
      * (`pg_logical_emit_message`) pipelines use for watermarks and
      * schema-migration markers. Surfaced as an ignorable event:
      * operation MESSAGE, table = prefix (so the publication filter
      * and per-table routing apply unchanged), content as lowercase
      * hex under key `content` (binary-safe, same convention as
      * binary tuple values). State materialization ignores it
      * ([[Changelog.apply]] touches only I/U/D/TRUNCATE). */
    private def parseMessage(buf: ByteBuffer, lsn: Long, ts: Long): Option[CdcEvent] = {
      val flags = buf.get() & 0xff
      buf.getLong // message LSN (frame lsn is the stream position we key on)
      val prefix = readCString(buf)
      val len = buf.getInt
      if (len < 0 || len > buf.remaining)
        throw new MalformedFrame(s"message frame declares $len content bytes, ${buf.remaining} remain")
      val content = new Array[Byte](len)
      buf.get(content)
      Some(CdcEvent(
        "MESSAGE", schema = "", table = prefix,
        columns = Seq("content", "transactional"),
        oldValues = None,
        newValues = Some(Map(
          "content" -> content.map(b => f"${b & 0xff}%02x").mkString,
          "transactional" -> (if ((flags & 1) != 0) "t" else "f"))),
        lsn, ts,
        txnSeq = if (inTxn) Some(txnSeq) else None,
        commitMicros = if (inTxn) txnCommitMicros else None))
    }

    /** TRUNCATE (PG11+, protocol v1): Int32 nrelations, Int8 option
      * bits (1 = CASCADE, 2 = RESTART IDENTITY — carried on the wire,
      * irrelevant to state materialization: either way the tables are
      * emptied), then nrelations × Int32 relation ids. One event per
      * KNOWN relation, imageless (`old`/`new` both None); unknown ids
      * count toward [[droppedUnknownRelation]] like any other change
      * on an unregistered table. */
    private def parseTruncate(buf: ByteBuffer, lsn: Long, ts: Long): Seq[CdcEvent] = {
      val n = buf.getInt
      if (n < 0 || n > 65536)
        throw new MalformedFrame(s"truncate frame declares $n relations")
      buf.get() // option flags
      (0 until n).flatMap { _ =>
        val id = buf.getInt
        relations.get(id) match {
          case Some(rel) =>
            Some(event("TRUNCATE", rel, old = None, neu = None, lsn, ts))
          case None => unknownRelationDrops += 1; None
        }
      }
    }

    private def event(
        op: String, rel: RelationInfo,
        old: Option[Image], neu: Option[Image], lsn: Long, ts: Long): CdcEvent =
      CdcEvent(op, rel.schema, rel.table, rel.columns.map(_.name),
        old, neu, lsn, ts,
        txnSeq = if (inTxn) Some(txnSeq) else None,
        commitMicros = if (inTxn) txnCommitMicros else None)

    private def readTuple(buf: ByteBuffer, rel: RelationInfo): Image = {
      val nCols = buf.getShort & 0xffff
      // More wire columns than the registered relation has names for
      // (ALTER TABLE racing the next R-frame, or corruption) must be
      // MalformedFrame — an uncaught IndexOutOfBounds would escape the
      // PERMISSIVE dropMalformed path and fail the whole task.
      if (nCols > rel.columns.size)
        throw new MalformedFrame(
          s"tuple has $nCols columns but relation ${rel.schema}.${rel.table} registered ${rel.columns.size}")
      val b = Map.newBuilder[String, String]
      // Length fields are validated against the remaining buffer
      // BEFORE allocation (same guard parseMessage has): a corrupt or
      // hostile frame declaring a 2 GB value must be MalformedFrame,
      // not an executor-OOMing allocation attempt.
      def readValue(name: String): Array[Byte] = {
        val len = buf.getInt
        if (len < 0 || len > buf.remaining)
          throw new MalformedFrame(
            s"column $name declares $len value bytes, ${buf.remaining} remain")
        val bytes = new Array[Byte](len); buf.get(bytes)
        bytes
      }
      var i = 0
      while (i < nCols) {
        val name = rel.columns(i).name
        buf.get().toChar match {
          case 'n' => b += name -> null
          case 'u' => b += name -> CdcEvent.UnchangedSentinel
          case 't' => b += name -> new String(readValue(name), UTF_8)
          case 'b' => b += name -> toHex(readValue(name))
          case other =>
            throw new MalformedFrame(s"unknown tuple tag '$other' at column $name")
        }
        i += 1
      }
      b.result()
    }
  }

  /** A structurally invalid frame (truncated buffer, unknown tuple
    * tag). Decode callers decide drop-vs-fail (bad-record policy). */
  final class MalformedFrame(msg: String, cause: Throwable = null)
    extends IllegalArgumentException(msg, cause)

  private def readCString(buf: ByteBuffer): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var c = buf.get()
    while (c != 0) { sb.write(c.toInt); c = buf.get() }
    new String(sb.toByteArray, UTF_8)
  }

  private def toHex(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  // ------------------------------------------------------------ encode
  //
  // Fixture/test encoder: builds wire frames the decoder (and any
  // spec-conforming pgoutput consumer) accepts. Lives in main (not
  // test) because deterministic fixture generation is part of the
  // library surface (the reference ships its change generator too,
  // test_changes.py — SURVEY §2.1 S3).

  /** Wire value for one column in an encoded tuple. */
  sealed trait WireValue
  case object WNull extends WireValue
  case object WUnchanged extends WireValue
  final case class WText(value: String) extends WireValue
  final case class WBinary(bytes: Array[Byte]) extends WireValue

  object Encoder {
    def relation(rel: RelationInfo, streamXid: Option[Int] = None): Array[Byte] = {
      val out = new ByteOut('R')
      streamXid.foreach(out.u32)
      out.u32(rel.id)
      out.cstr(rel.schema); out.cstr(rel.table)
      out.u8(rel.replicaIdentity.toInt)
      out.u16(rel.columns.size)
      rel.columns.foreach { c =>
        out.u8(c.flags); out.cstr(c.name); out.u32(c.typeId); out.u32(c.typeMod)
      }
      out.result()
    }

    /** v2 streamed-txn variants: `streamXid` writes the Int32 xid
      * prefix v2 adds to every message inside an S..E segment. */
    def insert(relationId: Int, values: Seq[WireValue], streamXid: Option[Int] = None): Array[Byte] = {
      val out = new ByteOut('I')
      streamXid.foreach(out.u32)
      out.u32(relationId); out.u8('N')
      tuple(out, values)
      out.result()
    }

    def update(
        relationId: Int,
        old: Option[(Char, Seq[WireValue])], // ('O' | 'K', image)
        neu: Seq[WireValue],
        streamXid: Option[Int] = None): Array[Byte] = {
      val out = new ByteOut('U')
      streamXid.foreach(out.u32)
      out.u32(relationId)
      old.foreach { case (tag, img) => out.u8(tag.toInt); tuple(out, img) }
      out.u8('N'); tuple(out, neu)
      out.result()
    }

    def delete(relationId: Int, tag: Char, old: Seq[WireValue], streamXid: Option[Int] = None): Array[Byte] = {
      val out = new ByteOut('D')
      streamXid.foreach(out.u32)
      out.u32(relationId); out.u8(tag.toInt)
      tuple(out, old)
      out.result()
    }

    def truncate(relationIds: Seq[Int], optionBits: Int = 0, streamXid: Option[Int] = None): Array[Byte] = {
      val out = new ByteOut('T')
      streamXid.foreach(out.u32)
      out.u32(relationIds.size)
      out.u8(optionBits)
      relationIds.foreach(out.u32)
      out.result()
    }

    /** Legacy minimal Begin (empty body): decodes with no commit
      * timestamp — events fall back to ingest time downstream. */
    def begin(): Array[Byte] = new ByteOut('B').result()

    /** Protocol-complete Begin: final LSN, commit timestamp (given as
      * Unix µs, written as the wire's µs-since-2000), xid. */
    def begin(commitUnixMicros: Long, finalLsn: Long, xid: Int): Array[Byte] = {
      val out = new ByteOut('B')
      out.i64(finalLsn)
      out.i64(commitUnixMicros - PgEpochOffsetMicros)
      out.u32(xid)
      out.result()
    }

    def commit(): Array[Byte] = new ByteOut('C').result()

    def typeMsg(id: Int, namespace: String, name: String, streamXid: Option[Int] = None): Array[Byte] = {
      val out = new ByteOut('Y')
      streamXid.foreach(out.u32)
      out.u32(id); out.cstr(namespace); out.cstr(name)
      out.result()
    }

    def origin(name: String, originLsn: Long = 0L): Array[Byte] = {
      val out = new ByteOut('O')
      out.i64(originLsn); out.cstr(name)
      out.result()
    }

    // ---- v2 streamed-transaction frames ----

    def streamStart(xid: Int, firstSegment: Boolean = true): Array[Byte] = {
      val out = new ByteOut('S')
      out.u32(xid); out.u8(if (firstSegment) 1 else 0)
      out.result()
    }

    def streamStop(): Array[Byte] = new ByteOut('E').result()

    /** Commit timestamp given as Unix µs, written as the wire's
      * µs-since-2000 (same convention as [[begin]]). */
    def streamCommit(
        xid: Int, commitUnixMicros: Long,
        commitLsn: Long = 0L, endLsn: Long = 0L): Array[Byte] = {
      val out = new ByteOut('c')
      out.u32(xid); out.u8(0)
      out.i64(commitLsn); out.i64(endLsn)
      out.i64(commitUnixMicros - PgEpochOffsetMicros)
      out.result()
    }

    def streamAbort(xid: Int, subXid: Int): Array[Byte] = {
      val out = new ByteOut('A')
      out.u32(xid); out.u32(subXid)
      out.result()
    }

    def message(prefix: String, content: Array[Byte], transactional: Boolean = false): Array[Byte] = {
      val out = new ByteOut('M')
      out.u8(if (transactional) 1 else 0)
      out.i64(0L) // message LSN (informational on the wire)
      out.cstr(prefix)
      out.u32(content.length)
      out.bytes(content)
      out.result()
    }

    private def tuple(out: ByteOut, values: Seq[WireValue]): Unit = {
      out.u16(values.size)
      values.foreach {
        case WNull => out.u8('n')
        case WUnchanged => out.u8('u')
        case WText(v) =>
          val b = v.getBytes(UTF_8)
          out.u8('t'); out.u32(b.length); out.bytes(b)
        case WBinary(b) =>
          out.u8('b'); out.u32(b.length); out.bytes(b)
      }
    }

    private final class ByteOut(msgType: Char) {
      private val bos = new java.io.ByteArrayOutputStream()
      bos.write(msgType.toInt)
      def u8(v: Int): Unit = bos.write(v & 0xff)
      def u16(v: Int): Unit = { bos.write((v >> 8) & 0xff); bos.write(v & 0xff) }
      def u32(v: Int): Unit = {
        bos.write((v >> 24) & 0xff); bos.write((v >> 16) & 0xff)
        bos.write((v >> 8) & 0xff); bos.write(v & 0xff)
      }
      def i64(v: Long): Unit = { u32((v >> 32).toInt); u32(v.toInt) }
      def cstr(s: String): Unit = { bos.write(s.getBytes(UTF_8)); bos.write(0) }
      def bytes(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
      def result(): Array[Byte] = bos.toByteArray
    }
  }
}
