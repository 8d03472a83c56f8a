package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.AviDecode

/** Round-19 AVI extensions: MJPEG frame decode (the compressed
  * legacy-AVI class reachable with the shipped JDK JPEG reader) and
  * the PCM 'auds' track → audio-in-video containment. */
class AviAudioMjpegSpec extends SparkSpec {

  test("MJPEG container: header/meta/frames decode, shape contract holds, bad chunks refuse") {
    import spark.implicits._
    def grad(f: Int, x: Int, y: Int, c: Int): Int = 40 + x * 3 + y * 2 + f * 5
    val avi = Multimodal.encodeAviMjpeg(48, 32, 3, grad)
    val hd = AviDecode.header(avi)
    assert(hd != null && hd.codec == AviDecode.CodecMjpeg &&
      hd.frameOffsets.length == 3 && hd.width == 48 && hd.height == 32)
    // meta through the Column API sees the same container facts
    val meta = Seq(Tuple1(avi)).toDF("p")
      .select(Multimodal.videoMeta(col("p")).as("m")).head().getStruct(0)
    assert(meta.getInt(0) == 48 && meta.getInt(1) == 32 && meta.getInt(4) == 3)
    // every frame decodes to the shared layout and matches a direct
    // ImageIO decode of the same chunk bytes
    val d = AviDecode.decode(avi)
    assert(d != null && d.frames.length == 3 &&
      d.frames.forall(_.length == 48 * 32 * 3))
    // single-frame access agrees with the full decode
    val f1 = Seq(Tuple1(avi)).toDF("p")
      .select(Multimodal.videoFramePixels(col("p"), lit(1))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(f1, d.frames(1).toArray))
    // a corrupted frame chunk (SOI intact, body broken) refuses the
    // whole payload rather than garbling
    val broken = avi.clone()
    val off = hd.frameOffsets(2)
    for (i <- 8 until 40) broken(off + i) = 0x55
    assert(Seq(Tuple1(broken)).toDF("p")
      .select(Multimodal.videoFrameDHashes(col("p"), 1)).head().isNullAt(0),
      "bad MJPEG chunk must null the hash array, not skip the frame")
    // unknown codec ids still refuse (scope unchanged beyond MJPG)
    val strfAt = avi.indexOfSlice("strf".getBytes)
    val h264 = avi.clone()
    for ((b, i) <- "H264".getBytes.zipWithIndex) h264(strfAt + 8 + 16 + i) = b
    assert(AviDecode.header(h264) == null)
  }

  test("MJPEG re-encode of an uncompressed clip pairs through the tolerant shifted join") {
    import spark.implicits._
    // smooth gradients: grid-sample luma deltas (~3/px) dwarf codec
    // quantization noise, so each frame's dHash lands within the
    // Hamming band of its uncompressed twin (the JPEG spec fixture
    // discipline), while an inverted-gradient MJPEG clip scatters
    def grad(f: Int, x: Int, y: Int, c: Int): Int = 40 + x * 3 + y * 2 + f * 7
    val vids = Seq(
      0L -> Multimodal.encodeAvi(48, 32, 4, grad),
      1L -> Multimodal.encodeAviMjpeg(48, 32, 4, grad, quality = 0.7f),
      2L -> Multimodal.encodeAviMjpeg(48, 32, 4,
        (f, x, y, _) => 250 - x * 3 - y * 2 - f * 7, quality = 0.9f),
      3L -> "junk".getBytes("UTF-8")).toDF("video_id", "payload")
    val pairs = Multimodal.videoNearDupPairsShifted(
      vids, "video_id", "payload", stride = 1, minFrac = 0.5, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)),
      s"the MJPEG re-encode must pair with its uncompressed twin, got $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"the unrelated MJPEG clip must not pair, got $pairs")
    // frame-aligned stats flow through the MJPEG branch too (means
    // within codec noise of the uncompressed twin's exact means)
    val stats = Seq(Tuple1(Multimodal.encodeAviMjpeg(48, 32, 2, grad)))
      .toDF("p").select(explode(Multimodal.frameSample(col("p"), 1)).as("e"))
      .select(col("e.mean")).collect().map(_.getDouble(0))
    val exact = Seq(Tuple1(Multimodal.encodeAvi(48, 32, 2, grad)))
      .toDF("p").select(explode(Multimodal.frameSample(col("p"), 1)).as("e"))
      .select(col("e.mean")).collect().map(_.getDouble(0))
    assert(stats.length == 2 &&
      stats.zip(exact).forall { case (a, b) => math.abs(a - b) < 2.0 },
      s"MJPEG means must track the exact means, got ${stats.toSeq} vs ${exact.toSeq}")
  }

  test("PCM 'auds' track: segment hashes bit-equal the same PCM in a WAV (incl. chunk straddle)") {
    import spark.implicits._
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    // stereo + odd total byte count per channel layout exercises the
    // encoder's deliberate odd-offset chunk split (sample straddles)
    val avi = Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200,
      audioChannels = 2, audioRate = 8000, audioFrames = 640, audioSample = s0)
    val wav = Multimodal.encodeWav(2, 8000, 640, s0)
    val hd = AviDecode.header(avi)
    assert(hd != null && hd.audChannels == 2 && hd.audRate == 8000 &&
      hd.audFrames == 640 && hd.audChunkOffs.length == 2,
      "audio track must surface through the header walk as two chunks")
    val df = Seq((avi, wav)).toDF("avi", "wav")
    val got = df.select(
      Multimodal.videoAudioSegmentDHashes(col("avi"), 128).as("a"),
      Multimodal.audioSegmentDHashes(col("wav"), 128).as("w")).head()
    assert(!got.isNullAt(0) && got.getSeq[Any](0) == got.getSeq[Any](1),
      "soundtrack segment hashes must bit-equal the WAV form's")
    // no audio track / non-PCM scope → honest NULL
    val mute = Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200)
    assert(Seq(Tuple1(mute)).toDF("p")
      .select(Multimodal.videoAudioSegmentDHashes(col("p"), 128)).head().isNullAt(0))
  }

  test("shot boundaries: structural cuts detected, brightness shifts are not cuts, degenerates empty") {
    import spark.implicits._
    def scenePix(scene: Int)(x: Int, y: Int, c: Int): Int =
      ((x * (2 + scene) + y * (3 + 2 * scene) + c * 37) * (scene * 97 + 13)) % 180
    val vids = Seq(
      // structural cut at frame 2
      0L -> Multimodal.encodeAvi(12, 10, 5,
        (f, x, y, c) => scenePix(if (f >= 2) 1 else 0)(x, y, c)),
      // brightness-only change at frame 2: dHash-invariant, NO cut
      1L -> Multimodal.encodeAvi(12, 10, 5,
        (f, x, y, c) => scenePix(0)(x, y, c) + (if (f >= 2) 40 else 0)),
      // single frame and junk: empty / null
      2L -> Multimodal.encodeAvi(12, 10, 1, (_, x, y, c) => scenePix(0)(x, y, c)),
      3L -> "junk".getBytes("UTF-8")).toDF("video_id", "payload")
    val got = vids.select(col("video_id"),
      Multimodal.videoShotBoundaries(col("payload"), 16).as("b"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(got(0L) == Seq(2), s"cut at frame 2: got ${got(0L)}")
    assert(got(1L) == Seq(), s"brightness shift must not cut: got ${got(1L)}")
    assert(got(2L) == Seq(), s"single frame: got ${got(2L)}")
    assert(got(3L) == null, "junk payloads are NULL")
    // MJPEG clips flow through the same hashes
    val mjpeg = Seq(Tuple1(Multimodal.encodeAviMjpeg(48, 32, 5,
      (f, x, y, _) => 40 + (if (f >= 3) 255 - x * 3 - y * 2 else x * 3 + y * 2))))
      .toDF("p")
      .select(Multimodal.videoShotBoundaries(col("p"), 16)).head().getSeq[Int](0)
    assert(mjpeg == Seq(3), s"MJPEG cut at frame 3: got $mjpeg")
  }

  test("IMA-ADPCM soundtrack: container parity with the WAV form, containment end-to-end") {
    import spark.implicits._
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    // 1010 frames = 2 whole 505-sample blocks: no final-block padding,
    // so the AVI track (no 'fact' chunk) and the WAV (fact = nFrames)
    // decode the IDENTICAL nibble stream to identical samples
    val avi = Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200,
      audioChannels = 2, audioRate = 8000, audioFrames = 1010,
      audioSample = s0, audioAdpcm = true)
    val wav = Multimodal.encodeWavImaAdpcm(2, 8000, 1010, s0, samplesPerBlock = 505)
    val hd = AviDecode.header(avi)
    assert(hd != null && hd.audFormat == 17 && hd.audChannels == 2 &&
      hd.audFrames == 1010, s"ADPCM track must surface: $hd")
    val got = Seq((avi, wav)).toDF("avi", "wav").select(
      Multimodal.videoAudioSegmentDHashes(col("avi"), 128).as("a"),
      Multimodal.audioSegmentDHashes(col("wav"), 128).as("w")).head()
    assert(!got.isNullAt(0) && got.getSeq[Any](0) == got.getSeq[Any](1),
      "compressed soundtrack segment hashes must bit-equal the WAV form's")
    // end-to-end containment: the identical compressed clip scores 1.0
    // against the video carrying it; a fresh clip and junk never match
    val matches = Multimodal.audioVideoMatches(
      Seq(0L -> avi).toDF("video_id", "payload"), "video_id", "payload",
      Seq(
        0L -> wav,
        1L -> Multimodal.encodeWav(1, 8000, 640,
          (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
        2L -> "junk".getBytes("UTF-8")).toDF("clip_id", "payload"),
      "clip_id", "payload", segFrames = 128, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(matches == Set((0L, 0L, 1.0)), s"got $matches")
    // geometry guard: a corrupted wSamplesPerBlock drops the TRACK,
    // never the video
    val strfs = {
      var at = -1
      var all = List.empty[Int]
      while ({ at = avi.indexOfSlice("strf".getBytes, at + 1); at >= 0 })
        all = all :+ at
      all
    }
    val bad = avi.clone(); bad(strfs(1) + 8 + 18) = 7 // audio strf is the 2nd
    val badHd = AviDecode.header(bad)
    assert(badHd != null && badHd.audChannels == 0 &&
      badHd.frameOffsets.length == 2,
      "bad ADPCM geometry must drop only the audio track")
  }

  test("audioVideoMatches: soundtrack-cut clips contain at 1.0, gain-invariant; junk never matches") {
    import spark.implicits._
    def base(b: Int)(c: Int, f: Int): Int = (((f * 53 + c * 17 + b * 101) % 3989) - 1994)
    // 3 videos with 640-frame stereo soundtracks + 1 without audio + junk
    val vids = (0 until 3).map { b =>
      (b.toLong, Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x * 3 + y + f + c + b) % 200,
        audioChannels = 2, audioRate = 8000, audioFrames = 640, audioSample = base(b)))
    } ++ Seq(
      3L -> Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200),
      4L -> "not a video".getBytes("UTF-8"))
    val clips = Seq(
      // segments 1-2 of video 0's track, gain x3: containment 1.0
      0L -> Multimodal.encodeWav(2, 8000, 256, (c, f) => base(0)(c, f + 128) * 3),
      // segments 0-3 of video 1's track, exact
      1L -> Multimodal.encodeWav(2, 8000, 512, (c, f) => base(1)(c, f)),
      // a NON-boundary cut of video 2's track: misses (modulo-segFrames caveat)
      2L -> Multimodal.encodeWav(2, 8000, 256, (c, f) => base(2)(c, f + 64)),
      // unrelated content
      3L -> Multimodal.encodeWav(1, 8000, 256, (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
      // sub-segment and junk: never match
      4L -> Multimodal.encodeWav(1, 8000, 64, base(0)),
      5L -> "junk".getBytes("UTF-8"))
    val got = Multimodal.audioVideoMatches(
      vids.toDF("video_id", "payload"), "video_id", "payload",
      clips.toDF("clip_id", "payload"), "clip_id", "payload",
      segFrames = 128, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == Set((0L, 0L, 1.0), (1L, 1L, 1.0)),
      s"boundary cuts contain at 1.0 (gain-invariant), everything else misses: got $got")
    // chunked-cell equivalence on the containment join too
    val chunked = Multimodal.audioVideoMatches(
      vids.toDF("video_id", "payload"), "video_id", "payload",
      clips.toDF("clip_id", "payload"), "clip_id", "payload",
      segFrames = 128, minFrac = 0.5, chunkSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(chunked == got, "chunkSize=1 must not change the containment set")
  }
}
