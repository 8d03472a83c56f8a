package graft

import graft.operators.Multimodal.{encodeAvi, encodePng, encodeWav}

/** Media payload families more than one query decodes.
  *
  * Every family is generated from a formula, so [[OracleSql]]
  * recomputes each pixel and sample in DuckDB from the same formula
  * instead of decoding anything. Ids run from 0; a family's junk rows
  * (undecodable payloads, which must flow through unpaired and always
  * be kept) take the ids after it.
  */
object MediaFixtures {
  type Payloads = Seq[(Long, Array[Byte])]

  /** Image family `b`, variant `v`: 0 the original, 1 brightness +40
    * (as a 2× nearest-neighbour upscale when `upscale`: the same dHash
    * at 4× the pixels), 2 a sparse +25 edit. `seed` cycles the PNG
    * row filters. */
  def image(b: Int, v: Int, seed: Int, upscale: Boolean): Array[Byte] = {
    val (w, h) = (12 + b, 10 + b % 4)
    val ch = Seq(1, 3, 2, 4)(b % 4)
    def base(x: Int, y: Int, c: Int): Int = (x * 17 + y * 29 + c * 37 + b * 53) % 180
    if (v == 1 && upscale)
      encodePng(2 * w, 2 * h, ch, (x, y, c) => base(x / 2, y / 2, c) + 40, y => (y + seed) % 5)
    else
      encodePng(w, h, ch,
        (x, y, c) => base(x, y, c) +
          (if (v == 1) 40 else if (v == 2 && (x + y) % 11 == 0) 25 else 0),
        y => (y + seed) % 5)
  }

  /** 6 image families × 3 variants (id 3b + v) across the four channel
    * layouts. The shift copies land at Hamming 0, the edited ones at
    * 1–5 (one family beyond the ≤ 3 gate), families ≥ 11 apart. */
  def images18(upscale: Boolean): Payloads =
    (0 until 18).map(i => (i.toLong, image(i / 3, i % 3, i, upscale)))

  def imageJunk: Payloads = Seq(
    18L -> "not an image at all".getBytes("UTF-8"),
    19L -> Array[Byte](0x1, 0x2, 0x3))

  /** 5 video families × (original, re-encode), every row order both
    * ways: the re-encode shifts brightness +40 (hash-invariant)
    * everywhere, and adds a local +25 edit on a sparse mask to every
    * frame of family 0 (its pair falls below a 0.5 frame-match gate)
    * and to frame 2 of the rest (a partial match of 1/2 or 2/3). */
  def videos10: Payloads = (0 until 10).map { i =>
    val b = i / 2
    val v = i % 2
    val (w, h, nf) = (12 + b % 3, 10 + b % 2, 4 + b % 3)
    (i.toLong, encodeAvi(w, h, nf,
      (f, x, y, c) => (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180 +
        (if (v == 1) 40 else 0) +
        (if (v == 1 && (x + y) % 3 == 0 && (b == 0 || f == 2)) 25 else 0),
      topDown = i % 2 == 1))
  }

  def videoJunk(from: Long): Payloads = Seq(
    from -> "definitely not a video".getBytes("UTF-8"),
    (from + 1) -> Array[Byte](0x4, 0x5, 0x6))

  /** 4 video families × (original, the original with its first 2
    * frames trimmed, a +25 sparse edit on the 2/3 of frames with
    * f % 3 != 0). A trim shifts content, not layout: physical frame pf
    * shows content frame pf + 2. */
  def videosShifted12: Payloads = (0 until 12).map { i =>
    val b = i / 3
    val v = i % 3
    val (w, h, nf0) = (12 + b % 3, 10 + b % 2, 6 + b)
    val trim = if (v == 1) 2 else 0
    (i.toLong, encodeAvi(w, h, nf0 - trim,
      (pf, x, y, c) => {
        val f = pf + trim
        (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180 +
          (if (v == 2 && (x + y) % 3 == 0 && f % 3 != 0) 25 else 0)
      },
      topDown = i % 2 == 1))
  }

  /** 4 PCM clip families × (original, gain ×3, a local edit): family
    * 0's edit re-mixes alternating envelope windows (Hamming 29), the
    * others amplify one burst (Hamming 2–3). */
  def clips12: Payloads = (0 until 12).map { i =>
    val b = i / 3
    val v = i % 3
    val (nf, ch) = (400 + b * 37, 1 + b % 2)
    // encodeWav's sample callback is (channel, frame)
    (i.toLong, encodeWav(ch, 8000, nf,
      (c, f) => (((f * 31 + c * 17 + b * 101) % 4001) - 2000) *
        (if (v == 1) 3
        else if (v == 2 && b == 0 && (f * 65) / nf % 2 == 0) 4
        else if (v == 2 && b != 0 && (f * 10) / nf == 3) 4
        else 1)))
  }

  def audioJunk(from: Long): Payloads = Seq(
    from -> "definitely not audio".getBytes("UTF-8"),
    (from + 1) -> Array[Byte](0x7, 0x8))

  /** 4 PCM clip families × (original, trimmed by one 128-frame segment
    * and gain ×3, ×4 on the first half of a subset of segments). */
  def clipsShifted12: Payloads = (0 until 12).map { i =>
    val b = i / 3
    val v = i % 3
    val (nf0, ch) = (500 + b * 61, 1 + b % 2)
    val trim = if (v == 1) 128 else 0
    def base(c: Int, cf: Int): Int = (((cf * 31 + c * 17 + b * 101) % 4001) - 2000)
    (i.toLong, encodeWav(ch, 8000, nf0 - trim,
      (c, f) => {
        val mult =
          if (v == 1) 3
          else if (v == 2 && f % 128 < 64 &&
            (if (b % 2 == 0) (f / 128) % 3 != 0 else (f / 128) % 2 == 1)) 4
          else 1
        base(c, f + trim) * mult
      }))
  }

  /** Sample of channel `c` at logical frame `g` of resample family `b`:
    * quadratic phase, so families and segments decorrelate. */
  def resampleSample(b: Int)(c: Int, g: Int): Int =
    ((g * g % 4001) * (31 + b) + g * 7 + c * 17 + b * 101) % 4001 - 2000

  /** 4 resample families × (8 kHz original, 16 kHz upsample at gain 3,
    * 4 kHz source whose masked 260-frame segments replace their
    * content), each an integer resample of one logical source; then
    * two junk rows and a 900 Hz clip too short for a 65 ms segment. */
  def resampleClips: Payloads = (0 until 12).map { i =>
    val b = i / 3
    val v = i % 3
    val L = 260 * (4 + b)
    val ch = 1 + b % 2
    def smp(c: Int, g: Int): Int = {
      val edited = v == 2 &&
        (if (b % 2 == 0) (g / 260) % 3 != 0 else (g / 260) % 2 == 1)
      val gain = if (v == 1) 3 else 1
      resampleSample(b)(c, if (edited) g + 7777 else g) * gain
    }
    val wav = v match {
      case 0 => encodeWav(ch, 8000, 2 * L, (c, f) => smp(c, f / 2))
      case 1 => encodeWav(ch, 16000, 4 * L, (c, f) => smp(c, f / 4))
      case _ => encodeWav(ch, 4000, L, (c, f) => smp(c, f))
    }
    (i.toLong, wav)
  } ++ audioJunk(12) :+
    // 900 Hz: derived segFrames = 900·65/1000 = 58 < 65 → NULL
    (14L -> encodeWav(1, 900, 1800, (c, f) => resampleSample(0)(c, f)))

  /** Two runs of one mixed corpus, for the incremental and lineage
    * media queries: an OLD corpus (3 image families of 3, 2 video
    * families of 3, 2 audio families of 3 + an audio singleton, junk)
    * and a NEW one with unchanged ids, a changed image (fresh
    * content), a changed audio that became a trim of ITS OWN old
    * content (the same-id-exclusion pin), a removed image, and
    * additions that near-dup history (one per modality), pair within
    * the delta (an image pair), or are fresh. Rows are (id, family,
    * variant); the oracle rebuilds every hash from the same tables. */
  object TwoRuns {
    private def vid(b: Int, v: Int): Array[Byte] = {
      val (w, h, nf0) = (12 + b % 3, 10 + b % 2, 8 + b % 2)
      val trim = if (v == 1) 2 else if (v == 3) 4 else 0
      encodeAvi(w, h, nf0 - trim, (pf, x, y, c) => {
        val f = pf + trim
        (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180 +
          (if (v == 2 && (x + y) % 3 == 0 && f % 2 == 1) 25 else 0)
      }, topDown = (b + v) % 2 == 1)
    }
    private def aud(b: Int, v: Int): Array[Byte] = {
      val (nf0, ch) = (500 + b * 61, 1 + b % 2)
      val trim = if (v == 1) 128 else if (v == 3) 256 else 0
      val gain = if (v == 1) 3 else if (v == 3) 2 else 1
      encodeWav(ch, 8000, nf0 - trim, (c, f) => {
        val mult =
          if (v == 2 && f % 128 < 64 && (f / 128) % 2 == 1) 4 else gain
        ((((f + trim) * 31 + c * 17 + b * 101) % 4001) - 2000) * mult
      })
    }
    private val oldImgs = Seq((0, 0, 0), (1, 0, 1), (2, 0, 2), (3, 1, 0), (4, 1, 1),
      (5, 1, 2), (6, 2, 0), (7, 2, 1), (8, 2, 2))
    private val newImgs = Seq((0, 0, 0), (1, 0, 1), (3, 1, 0), (4, 1, 1), (5, 1, 2),
      (6, 2, 0), (7, 2, 1), (2, 7, 0), (10, 1, 0), (11, 8, 0), (12, 8, 1))
    private val oldVids = Seq((100, 0, 0), (101, 0, 1), (102, 0, 2), (103, 1, 0),
      (104, 1, 1), (105, 1, 2))
    private val newVids = oldVids ++ Seq((110, 0, 3), (111, 9, 0))
    private val oldAuds = Seq((200, 0, 0), (201, 0, 1), (202, 0, 2), (203, 1, 0),
      (204, 1, 1), (205, 1, 2), (206, 5, 0))
    private val newAuds = Seq((200, 0, 0), (201, 0, 1), (202, 0, 2), (203, 1, 0),
      (204, 1, 1), (205, 1, 2), (206, 5, 1), (210, 0, 3))
    private def corpus(imgs: Seq[(Int, Int, Int)], vids: Seq[(Int, Int, Int)],
        auds: Seq[(Int, Int, Int)], junks: Payloads): Payloads =
      imgs.map { case (id, b, v) => (id.toLong, image(b, v, b, upscale = true)) } ++
        vids.map { case (id, b, v) => (id.toLong, vid(b, v)) } ++
        auds.map { case (id, b, v) => (id.toLong, aud(b, v)) } ++ junks
    def oldCorpus: Payloads =
      corpus(oldImgs, oldVids, oldAuds,
        Seq(300L -> "not media at all".getBytes("UTF-8")))
    def newCorpus: Payloads =
      corpus(newImgs, newVids, newAuds,
        Seq(300L -> "not media at all".getBytes("UTF-8"),
          301L -> Array[Byte](0x1, 0x2, 0x3)))
  }
}
