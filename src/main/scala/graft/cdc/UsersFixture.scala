package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import PgOutput.{ColumnInfo, Encoder => E, RelationInfo, WBinary, WNull, WText, WUnchanged, WireValue}

/** Deterministic reproduction of the reference's end-to-end scenario
  * (init.sql seed rows + test_changes.py INSERT→UPDATE→DELETE,
  * FIXTURES.md §A.3), extended to exercise every wire feature the
  * decoder implements: B/C markers, the unknown-relation drop, NULL
  * (`n`), TOAST sentinel (`u`), binary (`b`) tags, full (`O`) and
  * key-only (`K`) old images.
  *
  * All timestamps are fixed literals — the whole fixture is
  * bit-deterministic, so its decoded output and materialized state
  * are oracle-checkable as literal expected rows.
  */
object UsersFixture {

  val T0 = "2026-01-01 00:00:00"
  val T1 = "2026-01-02 10:00:00"
  val T2 = "2026-01-02 10:00:01"
  val T3 = "2026-01-02 10:00:02"

  val RelId = 16384
  val Cols: Seq[String] = Seq("id", "name", "email", "status", "created_at", "updated_at")

  /** Per-column builtin OIDs, as init.sql declares them (id SERIAL →
    * int4=23; name/status TEXT=25; email VARCHAR(255)=1043 with
    * typmod 255+4; timestamps → 1114): the R frame carries real type
    * metadata, so the wire-derived typed view ([[PgTypes]]) gets
    * exercised by the same fixture every other cdc query uses. */
  val relation: RelationInfo = RelationInfo(
    RelId, "public", "users", 'f',
    IndexedSeq(
      ColumnInfo("id", typeId = 23, flags = 1, typeMod = -1),
      ColumnInfo("name", typeId = 25, flags = 0, typeMod = -1),
      ColumnInfo("email", typeId = 1043, flags = 0, typeMod = 259),
      ColumnInfo("status", typeId = 25, flags = 0, typeMod = -1),
      ColumnInfo("created_at", typeId = 1114, flags = 0, typeMod = -1),
      ColumnInfo("updated_at", typeId = 1114, flags = 0, typeMod = -1)))

  private def row(vals: String*): Seq[WireValue] = vals.map(v => WText(v))

  /** The wire frames, in commit order. */
  val frames: Seq[CdcFrame] = {
    val fs = Seq[Array[Byte]](
      E.relation(relation),
      E.begin(),
      // test_changes.py INSERT
      E.insert(RelId, row("3", "Test User", "test@example.com", "active", T1, T1)),
      E.commit(),
      E.begin(),
      // test_changes.py UPDATE: REPLICA IDENTITY FULL ⇒ 'O' full old
      // image; email arrives TOASTed ('u') in the new image
      E.update(RelId,
        old = Some(('O', row("3", "Test User", "test@example.com", "active", T1, T1))),
        neu = Seq(WText("3"), WText("Updated User"), WUnchanged, WText("inactive"), WText(T1), WText(T2))),
      E.commit(),
      E.begin(),
      // test_changes.py DELETE
      E.delete(RelId, 'O', row("3", "Updated User", "test@example.com", "inactive", T1, T2)),
      E.commit(),
      // change for a relation never registered → dropped (F2)
      E.insert(99999, row("1")),
      // extra surviving row: NULL email, binary status
      E.insert(RelId, Seq(WText("4"), WText("Bin User"), WNull, WBinary(Array(0xca.toByte, 0xfe.toByte)), WText(T1), WText(T1))),
      // key-only ('K') old image + sentinel-heavy new image
      E.update(RelId,
        old = Some(('K', Seq(WText("4"), WNull, WNull, WNull, WNull, WNull))),
        neu = Seq(WText("4"), WUnchanged, WText("bin@example.com"), WUnchanged, WUnchanged, WText(T3))))
    fs.zipWithIndex.map { case (payload, i) =>
      CdcFrame(lsn = 1000L + i, ingestMicros = 1767225600000000L + i, payload = payload)
    }
  }

  /** [[T4]] as Unix µs (2026-01-02T10:00:03Z). */
  val T4Micros = 1767348003000000L

  val streamedFrames: Seq[CdcFrame] = {
    val fs = Seq[Array[Byte]](
      E.relation(relation),                                     // 2000
      E.streamStart(777),                                       // 2001 ← txn id for 777's events
      E.insert(RelId,
        row("5", "Stream User", "s5@example.com", "active", T1, T1),
        streamXid = Some(777)),                                 // 2002 → survives
      E.streamStop(),                                           // 2003
      E.streamStart(888),                                       // 2004 (interleaved txn)
      E.insert(RelId,
        row("6", "Phantom", "p6@example.com", "active", T1, T1),
        streamXid = Some(888)),                                 // 2005 → aborted later
      E.streamStop(),                                           // 2006
      E.streamStart(777, firstSegment = false),                 // 2007 (second segment)
      E.update(RelId,
        old = Some(('O', row("5", "Stream User", "s5@example.com", "active", T1, T1))),
        neu = row("5", "Stream User v2", "s5@example.com", "inactive", T1, T2),
        streamXid = Some(777)),                                 // 2008 → survives
      E.insert(RelId,
        row("7", "Subtxn User", "s7@example.com", "active", T1, T1),
        streamXid = Some(778)),                                 // 2009 (subtxn of 777)
      E.streamStop(),                                           // 2010
      E.streamAbort(777, 778),                                  // 2011 → id 7 discarded
      E.streamCommit(777, T4Micros),                            // 2012 → emits 2002 + 2008
      E.streamAbort(888, 888))                                  // 2013 → id 6 discarded
    fs.zipWithIndex.map { case (payload, i) =>
      CdcFrame(lsn = 2000L + i, ingestMicros = 1767225600100000L + i, payload = payload)
    }
  }

  /** Seed state of `users` before replication (init.sql:18-20). */
  def baseState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("1", "Ashish Kumar", "ashish@example.com", "active", T0, T0),
      ("2", "John Doe", "john@example.com", "active", T0, T0))
      .toDF("id", "name", "email", "status", "created_at", "updated_at")
  }
}
