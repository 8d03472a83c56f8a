package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** Golden wire fixture: a pgoutput frame sequence HAND-ASSEMBLED from
  * the public PostgreSQL protocol documentation (§"Logical Replication
  * Message Formats", protocol v1 + the PG14 binary/messages options)
  * and pinned as hex literals.
  *
  * The point is independence: every other PgOutput test round-trips
  * through this repo's own Encoder, which would mask a systematic
  * misreading of the spec (e.g. a field order swap encoded and decoded
  * the same wrong way). These bytes were authored field by field from
  * the documented grammar — Int16/Int32/Int64 big-endian, NUL-
  * terminated strings — so the decoder is checked against the
  * PROTOCOL, not against itself. Layouts mirror what `pg_recvlogical`
  * emits for a 3-column table under proto v1; values (LSNs, xid,
  * commit time 2024-01-15T10:30:00Z) are fixture-chosen.
  *
  * Frame inventory and the spec lines each exercises:
  *  - Begin: Int64 final LSN, Int64 commit µs since 2000-01-01, Int32 xid
  *  - Relation: OID, ns, name, replica identity 'd', 3 columns
  *    (key flag / type OID 23 int4, 25 text / typmod −1)
  *  - Insert: 'N' + text tuple values
  *  - Insert (binary option): a 'b' tuple value surfaced as lowercase hex
  *  - Update: 'O' full old image + new image with a 'u' TOAST sentinel
  *  - Delete: 'K' key-only image, non-key columns 'n' (NULL)
  *  - Truncate: nrelations, option bits (RESTART IDENTITY), OID list
  *  - Message: transactional flag, LSN, prefix, length-framed content
  *  - Commit: flags + 3×Int64 body (decoder drops it, closes the txn)
  *  - Origin: Int64 + name — no event, no registry mutation
  *  - Insert for an unregistered OID → counted drop, no event
  */
class PgOutputGoldenSpec extends AnyFunSuite {

  // --- golden bytes (hand-assembled per the PG docs; DO NOT regenerate
  // --- with the repo encoder: their value is independence from it)
  private val BeginF =
    "4200000000010000280002b1f843beba00000002f5"
  private val RelationF =
    "52000040017075626c6963007573657273006400030169640000000017ffffffff006e616d650000000019ffffffff00656d61696c0000000019ffffffff"
  private val InsertF =
    "49000040014e00037400000001317400000005616c6963657400000011616c696365406578616d706c652e636f6d"
  private val InsertBinF =
    "49000040014e00037400000001327400000003626f62620000000200ff"
  private val UpdateF =
    "55000040014f00037400000001317400000005616c6963657400000011616c696365406578616d706c652e636f6d4e00037400000001317400000006616c6963653275"
  private val DeleteF =
    "44000040014b00037400000001316e6e"
  private val TruncateF =
    "54000000010200004001"
  private val MessageF =
    "4d010000000001000020776d0000000004deadbeef"
  private val CommitF =
    "4300000000000100002800000000010000290002b1f843beba00"
  private val OriginF =
    "4f00000000000005006f726967696e3100"
  private val UnknownRelF =
    "49000000634e0001740000000139"

  /** 2024-01-15T10:30:00Z as Unix µs (the Begin body carries it as µs
    * since 2000-01-01; the decoder adds the 946,684,800 s offset). */
  private val CommitUnixMicros = 1705314600000000L

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def freshDecoder(): PgOutput.Decoder = {
    val d = new PgOutput.Decoder
    assert(d.decodeAll(hex(BeginF), lsn = 100L, timestampMicros = 1L).isEmpty)
    assert(d.decodeAll(hex(RelationF), lsn = 101L, timestampMicros = 1L).isEmpty)
    d
  }

  test("relation frame: registry captures OIDs, flags, typmods, replica identity") {
    val d = freshDecoder()
    val rel = d.relationRegistry(16385)
    assert(rel.schema == "public" && rel.table == "users")
    assert(rel.replicaIdentity == 'd')
    assert(rel.columns.map(_.name) == IndexedSeq("id", "name", "email"))
    assert(rel.columns.map(_.typeId) == IndexedSeq(23, 25, 25)) // int4, text, text
    assert(rel.columns.map(_.flags) == IndexedSeq(1, 0, 0)) // id is the key
    assert(rel.columns.map(_.typeMod) == IndexedSeq(-1, -1, -1))
  }

  test("insert frame: text tuple, txn id = Begin LSN, commit time decoded") {
    val d = freshDecoder()
    val Seq(e) = d.decodeAll(hex(InsertF), lsn = 102L, timestampMicros = 7L)
    assert(e.operation == "INSERT" && e.schema == "public" && e.table == "users")
    assert(e.columns == Seq("id", "name", "email"))
    assert(e.oldValues.isEmpty)
    assert(e.newValues.contains(Map(
      "id" -> "1", "name" -> "alice", "email" -> "alice@example.com")))
    assert(e.lsn == 102L && e.timestampMicros == 7L)
    assert(e.txnSeq.contains(100L), "txn id must be the Begin frame's LSN")
    assert(e.commitMicros.contains(CommitUnixMicros))
  }

  test("insert frame with a binary ('b') value surfaces lowercase hex") {
    val d = freshDecoder()
    val Seq(e) = d.decodeAll(hex(InsertBinF), lsn = 103L, timestampMicros = 1L)
    assert(e.newValues.contains(Map("id" -> "2", "name" -> "bob", "email" -> "00ff")))
  }

  test("update frame: full 'O' pre-image, 'u' TOAST sentinel in the post-image") {
    val d = freshDecoder()
    val Seq(e) = d.decodeAll(hex(UpdateF), lsn = 104L, timestampMicros = 1L)
    assert(e.operation == "UPDATE")
    assert(e.oldValues.contains(Map(
      "id" -> "1", "name" -> "alice", "email" -> "alice@example.com")))
    assert(e.newValues.contains(Map(
      "id" -> "1", "name" -> "alice2", "email" -> CdcEvent.UnchangedSentinel)))
  }

  test("delete frame: 'K' key-only image with 'n' NULLs for non-key columns") {
    val d = freshDecoder()
    val Seq(e) = d.decodeAll(hex(DeleteF), lsn = 105L, timestampMicros = 1L)
    assert(e.operation == "DELETE" && e.newValues.isEmpty)
    val img = e.oldValues.get
    assert(img("id") == "1" && img("name") == null && img("email") == null)
  }

  test("truncate frame: one imageless event per registered relation") {
    val d = freshDecoder()
    val Seq(e) = d.decodeAll(hex(TruncateF), lsn = 106L, timestampMicros = 1L)
    assert(e.operation == "TRUNCATE" && e.table == "users")
    assert(e.oldValues.isEmpty && e.newValues.isEmpty)
  }

  test("message frame: prefix routes as table, content hexed, transactional flag") {
    val d = freshDecoder()
    val Seq(e) = d.decodeAll(hex(MessageF), lsn = 107L, timestampMicros = 1L)
    assert(e.operation == "MESSAGE" && e.table == "wm")
    assert(e.newValues.contains(Map("content" -> "deadbeef", "transactional" -> "t")))
    assert(e.txnSeq.contains(100L))
  }

  test("commit closes the transaction: later events carry no txn id") {
    val d = freshDecoder()
    assert(d.decodeAll(hex(CommitF), lsn = 108L, timestampMicros = 1L).isEmpty)
    val Seq(e) = d.decodeAll(hex(InsertF), lsn = 109L, timestampMicros = 1L)
    assert(e.txnSeq.isEmpty && e.commitMicros.isEmpty,
      "post-commit events are outside any transaction")
  }

  test("origin frame: no event, relation registry untouched, origin name surfaced") {
    val d = freshDecoder()
    assert(d.decodeAll(hex(OriginF), lsn = 110L, timestampMicros = 1L).isEmpty)
    assert(d.relationRegistry.size == 1)
    assert(d.droppedUnknownRelation == 0L)
  }

  // 'Y' Type: OID 16500 (0x4074), "public"."mood" — hand-assembled
  private val TypeF = "59" + "00004074" + "7075626c696300" + "6d6f6f6400"

  test("type frame: OID and qualified name land in the type registry, no event") {
    val d = freshDecoder()
    assert(d.decodeAll(hex(TypeF), lsn = 112L, timestampMicros = 1L).isEmpty)
    assert(d.typeRegistry(16500) == PgOutput.TypeInfo(16500, "public", "mood"))
    assert(d.relationRegistry.size == 1, "type frames never touch the relation registry")
  }

  test("change for an unregistered OID: dropped and counted, never an event") {
    val d = freshDecoder()
    assert(d.decodeAll(hex(UnknownRelF), lsn = 111L, timestampMicros = 1L).isEmpty)
    assert(d.droppedUnknownRelation == 1L)
  }

  // --- protocol v2 streamed-transaction frames (PG14+ `streaming on`),
  // --- hand-assembled per the same docs; xid 777 = 0x309, 888 = 0x378,
  // --- subtxn xid 778 = 0x30a. Streamed DML = v1 frame with the v2
  // --- Int32 xid spliced after the type byte.
  private val StreamStart777First = "530000030901"
  private val StreamStart777Cont  = "530000030900"
  private val StreamStart888First = "530000037801"
  private val StreamStop          = "45"
  private val StreamedInsert777   = "49" + "00000309" + InsertF.drop(2)
  private val StreamedUpdate777   = "55" + "00000309" + UpdateF.drop(2)
  private val StreamedInsertSub778 = "49" + "0000030a" + InsertF.drop(2)
  private val StreamedInsert888   = "49" + "00000378" + InsertBinF.drop(2)
  private val StreamCommit777 =
    "63" + "00000309" + "00" + "0000000001000030" + "0000000001000031" + "0002b1f843beba00"
  private val StreamCommit888 =
    "63" + "00000378" + "00" + "0000000001000040" + "0000000001000041" + "0002b1f843beba00"
  private val StreamAbort777Full = "41" + "00000309" + "00000309"
  private val StreamAbort777Sub  = "41" + "00000309" + "0000030a"

  test("v2 streamed txn: buffers across segments, emits at Stream Commit") {
    val d = freshDecoder()
    assert(d.decodeAll(hex(StreamStart777First), 300L, 1L).isEmpty)
    assert(d.decodeAll(hex(StreamedInsert777), 301L, 1L).isEmpty,
      "streamed DML must buffer, not emit, before commit")
    assert(d.decodeAll(hex(StreamStop), 302L, 1L).isEmpty)
    assert(d.bufferedStreamedEvents == 1L)
    assert(d.decodeAll(hex(StreamStart777Cont), 303L, 1L).isEmpty)
    assert(d.decodeAll(hex(StreamedUpdate777), 304L, 1L).isEmpty)
    assert(d.decodeAll(hex(StreamStop), 305L, 1L).isEmpty)
    val evts = d.decodeAll(hex(StreamCommit777), 306L, 9L)
    assert(evts.map(_.operation) == Seq("INSERT", "UPDATE"), "wire arrival order")
    assert(evts.forall(_.txnSeq.contains(300L)),
      "txn id must be the FIRST Stream Start frame's LSN")
    assert(evts.forall(_.commitMicros.contains(CommitUnixMicros)),
      "commit time comes from the Stream Commit frame")
    assert(evts.map(_.lsn) == Seq(301L, 304L), "events keep their own frame LSNs")
    assert(d.bufferedStreamedEvents == 0L)
  }

  test("v2 stream abort discards the whole in-progress transaction") {
    val d = freshDecoder()
    d.decodeAll(hex(StreamStart777First), 310L, 1L)
    d.decodeAll(hex(StreamedInsert777), 311L, 1L)
    d.decodeAll(hex(StreamStop), 312L, 1L)
    assert(d.decodeAll(hex(StreamAbort777Full), 313L, 1L).isEmpty)
    assert(d.streamedAbortDiscards == 1L)
    assert(d.bufferedStreamedEvents == 0L)
    assert(d.decodeAll(hex(StreamCommit777), 314L, 1L).isEmpty,
      "nothing survives a full abort")
  }

  test("v2 subtransaction abort discards only the subtxn's events") {
    val d = freshDecoder()
    d.decodeAll(hex(StreamStart777First), 320L, 1L)
    d.decodeAll(hex(StreamedInsert777), 321L, 1L)     // top-level xid 777
    d.decodeAll(hex(StreamedInsertSub778), 322L, 1L)  // subtxn xid 778
    d.decodeAll(hex(StreamStop), 323L, 1L)
    assert(d.decodeAll(hex(StreamAbort777Sub), 324L, 1L).isEmpty)
    assert(d.streamedAbortDiscards == 1L)
    val evts = d.decodeAll(hex(StreamCommit777), 325L, 1L)
    assert(evts.map(_.lsn) == Seq(321L), "only the top-level event survives")
  }

  test("v2 interleaved streamed txns keep separate buffers and commit independently") {
    val d = freshDecoder()
    d.decodeAll(hex(StreamStart777First), 330L, 1L)
    d.decodeAll(hex(StreamedInsert777), 331L, 1L)
    d.decodeAll(hex(StreamStop), 332L, 1L)
    d.decodeAll(hex(StreamStart888First), 333L, 1L)
    d.decodeAll(hex(StreamedInsert888), 334L, 1L)
    d.decodeAll(hex(StreamStop), 335L, 1L)
    val evts888 = d.decodeAll(hex(StreamCommit888), 336L, 1L) // commits FIRST
    assert(evts888.map(_.lsn) == Seq(334L) && evts888.forall(_.txnSeq.contains(333L)))
    assert(evts888.head.newValues.get("email") == "00ff", "888 got the binary insert")
    val evts777 = d.decodeAll(hex(StreamCommit777), 337L, 1L)
    assert(evts777.map(_.lsn) == Seq(331L) && evts777.forall(_.txnSeq.contains(330L)))
  }

  test("v2 segment state clears at Stream Stop: plain v1 traffic decodes unchanged after") {
    val d = freshDecoder()
    d.decodeAll(hex(StreamStart777First), 340L, 1L)
    d.decodeAll(hex(StreamedInsert777), 341L, 1L)
    d.decodeAll(hex(StreamStop), 342L, 1L)
    val Seq(e) = d.decodeAll(hex(InsertF), 343L, 7L)
    assert(e.operation == "INSERT" && e.lsn == 343L,
      "outside a segment the v1 frame must decode immediately, no xid prefix")
  }

  test("full golden sequence decodes to the expected event stream in order") {
    val d = new PgOutput.Decoder
    val all = Seq(BeginF, RelationF, InsertF, InsertBinF, UpdateF, DeleteF,
      TruncateF, MessageF, CommitF).zipWithIndex.flatMap { case (f, i) =>
      d.decodeAll(hex(f), lsn = 200L + i, timestampMicros = 1L)
    }
    assert(all.map(_.operation) ==
      Seq("INSERT", "INSERT", "UPDATE", "DELETE", "TRUNCATE", "MESSAGE"))
    assert(all.forall(_.txnSeq.contains(200L)), "every event is inside the one txn")
    assert(all.filter(_.operation != "MESSAGE").forall(_.table == "users"))
  }
}
