package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sample-rate-tolerant audio fingerprints: time-based (millisecond)
  * segmentation hashes ideal integer resamples of one recording
  * BIT-IDENTICALLY when the derived segFrames is 65-divisible (equal
  * windows ⇒ every cross-multiplied envelope comparison reduces to a
  * sign the rate factor and gain both scale out of), the frame-count
  * shifted matcher provably misses the cross-rate pair the resampled
  * matcher scores at containment 1.0, near-65-divisible real rates
  * stay robust through the set-overlap gate, and the NULL contract
  * (junk, sub-65 derived segFrames, ms < 1) holds. */
class AudioResampleSpec extends SparkSpec {

  /** One logical source per family b; rate = m × 1000 Hz is emitted
    * as an ideal integer resample (each logical sample repeated
    * `rep` times) so every rate carries EXACTLY the same audio. */
  private def u(b: Int)(c: Int, g: Int): Int =
    ((g * 31 + c * 17 + b * 101) % 4001) - 2000

  private def clipAt(rate: Int, rep: Int, logicalFrames: Int,
      b: Int = 0, ch: Int = 1, gain: Int = 1): Array[Byte] =
    Multimodal.encodeWav(ch, rate, logicalFrames * rep,
      (c, f) => u(b)(c, f / rep) * gain)

  private def msHashes(payload: Array[Byte], ms: Int): Seq[(Int, Long)] = {
    import spark.implicits._
    val row = Seq(payload).toDF("payload")
      .select(Multimodal.audioSegmentDHashesMs(col("payload"), ms).as("sh"))
      .head()
    if (row.isNullAt(0)) null
    else row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getLong(1)))
  }

  test("ideal 4/8/16 kHz resamples hash bit-identically at ms=65") {
    // ms=65 → segFrames 260/520/1040, all 65-divisible; L = 1040
    // logical frames = 4 full segments at every rate
    val hs4 = msHashes(clipAt(4000, 1, 1040, ch = 2), 65)
    val hs8 = msHashes(clipAt(8000, 2, 1040, ch = 2), 65)
    val hs16 = msHashes(clipAt(16000, 4, 1040, ch = 2, gain = 3), 65)
    assert(hs4 != null && hs4.size == 4)
    assert(hs8 == hs4, "2x ideal upsample must hash identically")
    assert(hs16 == hs4, "4x ideal upsample at gain 3 must hash identically")
  }

  test("real 24/48 kHz rates are exact too (both 65-divisible at ms=65)") {
    // 24000·65/1000 = 1560 = 65·24; 48000·65/1000 = 3120 = 65·48
    val hs24 = msHashes(clipAt(24000, 6, 1040, b = 1), 65)
    val hs48 = msHashes(clipAt(48000, 12, 1040, b = 1), 65)
    assert(hs24 != null && hs24.size == 4 && hs48 == hs24)
  }

  test("resampled matcher pairs cross-rate; frame-count matcher reads zero") {
    import spark.implicits._
    val docs = Seq(
      0L -> clipAt(8000, 2, 1040),
      1L -> clipAt(16000, 4, 1040, gain = 3),
      2L -> clipAt(8000, 2, 1040, b = 9)) // different recording
      .toDF("clip_id", "payload")
    val res = Multimodal.audioNearDupPairsResampled(
      docs, "clip_id", "payload", msPerSeg = 65, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(res == Seq((0L, 1L, 1.0)),
      s"expected exactly the cross-rate pair at containment 1.0, got $res")
    // the frame-count form at ANY fixed segFrames covers different
    // audio per segment across rates — the 0/1 pair must vanish
    val shifted = Multimodal.audioNearDupPairsShifted(
      docs, "clip_id", "payload", segFrames = 520, minFrac = 0.5)
      .collect()
    assert(shifted.isEmpty,
      s"frame-count segmentation must miss the rate-converted copy")
  }

  test("non-65-divisible real rates (44.1/88.2 kHz) survive the overlap gate") {
    import spark.implicits._
    // 44100·65/1000 = 2866 (not 65-divisible): floor wobble may flip
    // near-tie bits, so the claim is the documented fallback — the
    // set-overlap fraction clears minFrac — not bit-exactness
    val docs = Seq(
      0L -> clipAt(44100, 21, 5732, b = 2), // 21·2100=44100: integer resample of a 2100 Hz logical source
      1L -> clipAt(88200, 42, 5732, b = 2, gain = 2))
      .toDF("clip_id", "payload")
    val res = Multimodal.audioNearDupPairsResampled(
      docs, "clip_id", "payload", msPerSeg = 65, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(res.size == 1 && res.head._1 == 0L && res.head._2 == 1L &&
      res.head._3 >= 0.5, s"rate-doubled copy must clear the gate, got $res")
  }

  test("ms index drops a rate-converted re-encode the frame-count index keeps") {
    import spark.implicits._
    val history = Seq(0L -> clipAt(8000, 2, 1040)).toDF("clip_id", "payload")
    val increment = Seq(
      100L -> clipAt(16000, 4, 1040, gain = 3), // 16 kHz re-encode of history 0
      101L -> clipAt(8000, 2, 1040, b = 9))     // fresh recording
      .toDF("clip_id", "payload")
    val msIdx = Multimodal.audioSegmentHashIndexMs(
      history, "clip_id", "payload", msPerSeg = 65)
    val keptMs = Multimodal.dedupAudioAgainstIndexMs(
      increment, "clip_id", "payload", msIdx, msPerSeg = 65)
      .select("clip_id").as[Long].collect().toSet
    assert(keptMs == Set(101L),
      s"ms index must drop the cross-rate re-encode, kept $keptMs")
    // the frame-count index at the history's own segmentation keeps
    // BOTH: the 16 kHz clip's 520-frame segments cover half the time
    // span, so no unit hash coincides
    val frIdx = Multimodal.audioSegmentHashIndex(
      history, "clip_id", "payload", segFrames = 520)
    val keptFr = Multimodal.dedupAudioAgainstIndex(
      increment, "clip_id", "payload", frIdx, segFrames = 520)
      .select("clip_id").as[Long].collect().toSet
    assert(keptFr == Set(100L, 101L),
      s"frame-count index structurally keeps the re-encode, kept $keptFr")
  }

  test("resampled dedup output keeps one representative per cross-rate family") {
    import spark.implicits._
    val docs = Seq(
      0L -> clipAt(8000, 2, 1040),
      1L -> clipAt(16000, 4, 1040, gain = 3),
      2L -> clipAt(4000, 1, 1040),
      3L -> clipAt(8000, 2, 1040, b = 9),
      4L -> "junk".getBytes("UTF-8"))
      .toDF("clip_id", "payload")
    val kept = Multimodal.dedupAudioNearDupsResampled(
      docs, "clip_id", "payload", msPerSeg = 65)
      .select("clip_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L), s"got $kept")
  }

  test("NULL contract: junk, sub-65 derived segFrames, ms < 1") {
    assert(msHashes("not audio".getBytes("UTF-8"), 65) == null)
    // 900 Hz at ms=65 → segFrames 58 < 65 → NULL by contract
    assert(msHashes(clipAt(900, 1, 1800), 65) == null)
    assert(msHashes(clipAt(8000, 1, 1040), 0) == null)
  }
}
