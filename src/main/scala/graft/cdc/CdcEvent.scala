package graft.cdc

/** Row-change event — the engine's unit of data, mirroring the
  * reference's CDCEvent record (see /root/reference/utils/cdc_event.py:6-25
  * for the field inventory; SURVEY.md §1.1).
  *
  * Values are the pgoutput text-mode wire values: every column value is
  * a string (ints, timestamps, bools included), `null` for SQL NULL,
  * the `"[unchanged]"` sentinel for TOASTed/unchanged update columns,
  * and lowercase hex for binary-format values (SURVEY.md §1.3). Typed
  * projection happens downstream against a table schema registry.
  *
  * Unlike the reference (consumer wall clock at decode time,
  * cdc_event.py:14), the event timestamp is supplied by the caller —
  * ingest time in the streaming pipeline, a fixed literal in
  * deterministic tests.
  */
final case class CdcEvent(
    operation: String, // INSERT | UPDATE | DELETE
    schema: String,
    table: String,
    columns: Seq[String], // ordered column names from the relation registry
    oldValues: Option[Map[String, String]], // pre-image (UPDATE/DELETE)
    newValues: Option[Map[String, String]], // post-image (INSERT/UPDATE)
    lsn: Long, // commit-order position in the stream (drives MERGE ordering;
               // the reference keeps its LSN only for acks — we surface it)
    timestampMicros: Long,
    // Transaction id = the LSN of the enclosing Begin frame: events
    // between a B and its C marker share one value; events outside any
    // transaction are None. LSN-derived ids are stable across JVM
    // restarts (a counter would restart at 0 and collide), monotone
    // per stream, and safe to persist/join. The reference DROPS B/C
    // and loses atomicity grouping (pg_output_parser.py:32-37) —
    // surfacing the id makes transactional grouping a groupBy away
    // (opt-in: the wire envelope `toWireDf` does not include it, so
    // downstream contracts are unchanged).
    txnSeq: Option[Long] = None,
    // The enclosing transaction's COMMIT timestamp (Unix µs) when the
    // Begin frame carried the full protocol body — the SOURCE's clock
    // for the change, i.e. the event time streaming watermarks should
    // key on. None for non-transactional frames or legacy empty-body
    // Begins; downstream falls back to `timestampMicros` (ingest
    // time): `coalesce(commitMicros, timestampMicros)`. The reference
    // has no equivalent: it stamps consumer wall clock
    // (cdc_event.py:14).
    commitMicros: Option[Long] = None)

object CdcEvent {
  /** TOASTed/unchanged column sentinel (reference pg_output_parser.py:113).
    * Lossy on the wire; the MERGE materializer treats it as
    * "keep previous value" (SURVEY.md §7.3). */
  val UnchangedSentinel = "[unchanged]"
}
