package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.cdc.CdcFrame
import graft.cdc.PgOutput.{ColumnInfo, Encoder, RelationInfo, WNull, WText, WUnchanged, WireValue}

/** Seeded pgoutput feed for the CDC workloads, plus the model of the
  * table it produces.
  *
  * The feed is one replication stream on one table, `public.accounts`,
  * with REPLICA IDENTITY FULL: updates and deletes carry full 'O' old
  * images. Every transaction is `B`, [[CdcFeed.ChangesPerTxn]] changes, `C`.
  * A change picks a key uniformly from the [[Mix]]'s `keys`: an absent
  * key is INSERTed; a live key is DELETEd with probability `pDelete`,
  * else UPDATEd, and an update sends the `bio` column as the TOAST
  * "unchanged" marker with probability `pToast`.
  *
  * The generator keeps, per change event, its LSN, key and due time
  * (the time its frame file was due to be written), and the final
  * value of every live key. Those are what the workloads check the
  * pipeline's sinks against and attribute lag with. Equal seeds give
  * byte-identical frames when the caller passes equal timestamps.
  */
final class CdcFeed(seed: Long) {
  import CdcFeed._

  private val rng = new java.util.SplittableRandom(seed)
  private var nextLsn = 1000L
  private var nextXid = 1

  /** Final post-image of every live key: column values in [[ValueCols]] order. */
  val model = new java.util.HashMap[Integer, Array[String]]()

  /** Per change event (generation order = LSN order). */
  val eventLsn = new LongBuf
  val eventKey = new LongBuf
  val eventDueMs = new LongBuf

  /** Per frame: LSN. */
  val frameLsn = new LongBuf

  private def lsn(): Long = { nextLsn += 8; nextLsn }

  private def frame(payload: Array[Byte], ingestMicros: Long): CdcFrame = {
    val f = CdcFrame(lsn(), ingestMicros, payload)
    frameLsn += f.lsn
    f
  }

  /** The Relation frame that opens the stream. */
  def relationFrame(ingestMicros: Long): CdcFrame = frame(Encoder.relation(Relation), ingestMicros)

  private def word(n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + rng.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  private def freshRow(key: Int, version: Int): Array[String] = Array(
    s"${word(6)} ${word(8)}",
    s"user$key.v$version@${word(5)}.example",
    Statuses(rng.nextInt(Statuses.length)),
    word(40 + rng.nextInt(160)))

  private def image(key: Int, row: Array[String]): Seq[WireValue] =
    WText(key.toString) +: row.toSeq.map(v => if (v == null) WNull else WText(v))

  /** `n` transactions of `mix`, all stamped with `ingestMicros` and due at `dueMs`. */
  def transactions(n: Int, mix: CdcFeed.Mix, ingestMicros: Long, dueMs: Long): ArrayBuffer[CdcFrame] = {
    val out = new ArrayBuffer[CdcFrame](n * (ChangesPerTxn + 2))
    var t = 0
    while (t < n) {
      val beginLsn = nextLsn + 8
      out += frame(Encoder.begin(CommitBaseMicros + nextXid, beginLsn, nextXid), ingestMicros)
      nextXid += 1
      var c = 0
      while (c < ChangesPerTxn) {
        val key = rng.nextInt(mix.keys)
        val old = model.get(key)
        val payload =
          if (old == null) {
            val row = freshRow(key, 0)
            model.put(key, row)
            Encoder.insert(Relation.id, image(key, row))
          } else if (rng.nextDouble() < mix.pDelete) {
            model.remove(key)
            Encoder.delete(Relation.id, 'O', image(key, old))
          } else {
            val row = freshRow(key, rng.nextInt(1 << 20))
            val toast = rng.nextDouble() < mix.pToast
            if (toast) row(3) = old(3)
            model.put(key, row)
            val neu = image(key, row)
            Encoder.update(Relation.id, Some(('O', image(key, old))),
              if (toast) neu.updated(4, WUnchanged) else neu)
          }
        val f = frame(payload, ingestMicros)
        out += f
        eventLsn += f.lsn
        eventKey += key
        eventDueMs += dueMs
        c += 1
      }
      out += frame(Encoder.commit(), ingestMicros)
      t += 1
    }
    out
  }

  /** Distinct keys changed by the events with `fromExclusive < lsn <= toInclusive`. */
  def keysBetween(fromExclusive: Long, toInclusive: Long): Int = {
    var i = LongBuf.upperBound(eventLsn, fromExclusive)
    val seen = new java.util.HashSet[java.lang.Long]()
    while (i < eventLsn.length && eventLsn(i) <= toInclusive) { seen.add(eventKey(i)); i += 1 }
    seen.size
  }

  /** Change events with `fromExclusive < lsn <= toInclusive`. */
  def eventsBetween(fromExclusive: Long, toInclusive: Long): Int =
    LongBuf.upperBound(eventLsn, toInclusive) - LongBuf.upperBound(eventLsn, fromExclusive)

  /** Frames with `lsn <= upTo`. */
  def framesUpTo(upTo: Long): Int = LongBuf.upperBound(frameLsn, upTo)
}

object CdcFeed {
  val ChangesPerTxn = 4

  /** Which keys changes pick, and how changes of live keys split. */
  final case class Mix(keys: Int, pDelete: Double, pToast: Double)

  val Table = "accounts"
  val KeyCol = "id"
  val ValueCols: Seq[String] = Seq("name", "email", "status", "bio")
  val Relation: RelationInfo = RelationInfo(16385, "public", Table, 'f',
    (ColumnInfo(KeyCol, 23, 1, -1) +: ValueCols.map(c => ColumnInfo(c, 25, 0, -1))).toIndexedSeq)
  /** `[lsn i64][ingestMicros i64][len i32]` before each payload in a `.cdcf` file. */
  val RecordHeaderBytes = 20
  /** Commit timestamps are synthetic so frame bytes depend on the seed only. */
  val CommitBaseMicros = 1700000000000000L
  private val Statuses = Array("active", "inactive", "suspended")
}

/** Growable primitive long array (the generator logs hold ~10^5 entries). */
final class LongBuf {
  private var a = new Array[Long](1024)
  var length = 0
  def +=(v: Long): Unit = {
    if (length == a.length) a = java.util.Arrays.copyOf(a, length * 2)
    a(length) = v; length += 1
  }
  def apply(i: Int): Long = a(i)
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, length)
}

object LongBuf {
  /** First index whose value is > v, in an ascending buffer. */
  def upperBound(b: LongBuf, v: Long): Int = {
    var lo = 0; var hi = b.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (b(m) <= v) lo = m + 1 else hi = m }
    lo
  }
}
