package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions

/** Perceptual image near-dup: dHash known values, the two invariance
  * claims (uniform brightness shift, exact NN upscale), NULL
  * tolerance for undecodable payloads, and pigeonhole completeness —
  * the banded pair set must equal brute force over all hash pairs. */
class ImageNearDupSpec extends SparkSpec {

  private def dhashOf(payload: Array[Byte]): java.lang.Long = {
    import spark.implicits._
    Seq(Tuple1(payload)).toDF("p")
      .select(Multimodal.imageDHash(col("p")).as("h"))
      .collect().head.getAs[java.lang.Long]("h")
  }

  test("dHash known values: monotone row = all bits, constant = zero") {
    // 9×8 gray, pixel = x: the NN grid is the identity, every
    // horizontal gradient is +1 → all 64 bits set → -1L as a signed
    // long; a constant image has no positive gradient anywhere → 0L
    val monotone = Multimodal.encodePng(9, 8, 1, (x, _, _) => x)
    val const = Multimodal.encodePng(9, 8, 1, (_, _, _) => 77)
    assert(dhashOf(monotone) == -1L)
    assert(dhashOf(const) == 0L)
  }

  test("dHash is invariant to uniform brightness shift and exact NN upscale") {
    def pix(x: Int, y: Int, c: Int): Int = (x * 11 + y * 23 + c * 31) % 150
    val base = Multimodal.encodePng(13, 9, 3, pix)
    val brighter = Multimodal.encodePng(13, 9, 3, (x, y, c) => pix(x, y, c) + 90)
    // 2× NN upscale: (gx·2w/9)/2 == gx·w/9 for every gx (floor
    // algebra), so the grid resamples the identical source pixels
    val upscaled = Multimodal.encodePng(26, 18, 3, (x, y, c) => pix(x / 2, y / 2, c))
    val h = dhashOf(base)
    assert(dhashOf(brighter) == h)
    assert(dhashOf(upscaled) == h)
  }

  test("undecodable payloads hash NULL and never pair") {
    import spark.implicits._
    val df = Seq(
      1L -> Multimodal.encodePng(6, 6, 1, (x, y, _) => (x * 3 + y) % 200),
      2L -> Multimodal.encodePng(6, 6, 1, (x, y, _) => (x * 3 + y) % 200 + 30),
      3L -> "junk bytes".getBytes("UTF-8")).toDF("img_id", "payload")
    assert(df.select(Multimodal.imageDHash(col("payload"))).collect()
      .count(_.isNullAt(0)) == 1)
    val pairs = Multimodal.imageNearDupPairs(df, "img_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("banded pairs equal brute force over every hash pair") {
    import spark.implicits._
    // a corpus with families at several Hamming distances (the
    // p_image_near_dup fixture formula) + noise images
    val imgs = (0 until 18).map { i =>
      val b = i / 3; val v = i % 3
      val ch = Seq(1, 3, 2, 4)(b % 4)
      (i.toLong, Multimodal.encodePng(12 + b, 10 + b % 4, ch,
        (x, y, c) => (x * 17 + y * 29 + c * 37 + b * 53) % 180 +
          (if (v == 1) 40 else if (v == 2 && (x + y) % 11 == 0) 25 else 0),
        y => (y + i) % 5))
    }
    val df = imgs.toDF("img_id", "payload")
    val got = Multimodal.imageNearDupPairs(df, "img_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs = df.select(col("img_id"),
      Multimodal.imageDHash(col("payload")).as("h"))
    val brute = hs.as("a").join(hs.as("b"),
        col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id"), col("b.img_id"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hm"))
      .filter(col("hm") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty && brute.exists(_._3 > 0L) && got == brute)
  }

  test("JPEG branch: re-encodes and brightness nudges pair at Hamming ≤3 through the same join") {
    import spark.implicits._
    // real ImageIO JPEG encodes (the dominant crawled-image format —
    // the oracle can only pin PNG/BMP/GIF because JPEG IDCT output is
    // decoder-specific, so this branch is spec-gated here): a smooth
    // gradient image whose grid-sample luma deltas (~16 per grid
    // step) dwarf codec quantization noise, so the dHash survives a
    // quality-70 re-encode and a uniform +10 nudge — the two edits a
    // re-hosted JPEG actually carries
    def jpeg(w: Int, h: Int, q: Float, pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = math.min(math.max(pix(x, y), 0), 255)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      out.toByteArray
    }
    def ham(a: java.lang.Long, b: java.lang.Long): Int =
      java.lang.Long.bitCount(a ^ b)
    def grad(x: Int, y: Int): Int = 40 + x * 3 + y * 2 // max 243, no clipping
    val base = jpeg(48, 32, 0.9f, grad)
    val requant = jpeg(48, 32, 0.7f, grad) // quality-70 re-encode
    val nudged = jpeg(48, 32, 0.9f, (x, y) => grad(x, y) + 10)
    val other = jpeg(48, 32, 0.9f, (x, y) => 250 - x * 3 - y * 2) // inverted
    val hBase = dhashOf(base)
    assert(hBase != null, "JPEG must decode through the magic dispatch")
    assert(ham(dhashOf(requant), hBase) <= 3, "re-encode must stay within the near-dup band")
    assert(ham(dhashOf(nudged), hBase) <= 3, "brightness nudge must stay within the band")
    assert(ham(dhashOf(other), hBase) > 3, "the inverted gradient must scatter")
    val pairs = Multimodal.imageNearDupPairs(
      Seq(1L -> base, 2L -> requant, 3L -> nudged, 4L -> other)
        .toDF("img_id", "payload"), "img_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)),
      s"JPEG family must pair through the pigeonhole join, got $pairs")
    assert(pairs.forall(p => p._1 != 4L && p._2 != 4L),
      s"the unrelated JPEG must never pair, got $pairs")
  }

  test("video near-dup: frame-aligned matching, threshold, junk never pairs") {
    import spark.implicits._
    def pix(b: Int)(f: Int, x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180
    val vids = Seq(
      0L -> Multimodal.encodeAvi(12, 10, 4, pix(0), topDown = true),
      // brightness-shifted re-encode: every frame hash identical
      1L -> Multimodal.encodeAvi(12, 10, 4,
        (f, x, y, c) => pix(0)(f, x, y, c) + 40, topDown = false),
      // the SAME content time-shifted by one frame: frame-ALIGNED
      // matching must NOT pair it (the documented contract)
      2L -> Multimodal.encodeAvi(12, 10, 4,
        (f, x, y, c) => pix(0)(f + 1, x, y, c), topDown = true),
      // unrelated family
      3L -> Multimodal.encodeAvi(12, 10, 4, pix(7), topDown = true),
      // junk payload: samples no frames, never pairs
      4L -> "not a video".getBytes("UTF-8"))
      .toDF("video_id", "payload")
    val pairs = Multimodal.videoNearDupPairs(
      vids, "video_id", "payload", stride = 2, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.toSeq == Seq((0L, 1L, 2L, 1.0)),
      s"only the re-encode pair survives, got ${pairs.toSeq}")
  }

  test("shifted video near-dup: catches trims the aligned form misses; tolerance path agrees") {
    import spark.implicits._
    def pix(b: Int)(f: Int, x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180
    val vids = Seq(
      // original: 8 frames of family 0
      0L -> Multimodal.encodeAvi(12, 10, 8, pix(0)),
      // trimmed copy: first 2 frames dropped, content otherwise
      // identical — at stride 1 its hash set is CONTAINED in 0's
      1L -> Multimodal.encodeAvi(12, 10, 6,
        (f, x, y, c) => pix(0)(f + 2, x, y, c), topDown = true),
      // unrelated family
      2L -> Multimodal.encodeAvi(12, 10, 8, pix(7)),
      // junk: samples no frames, never pairs
      3L -> "not a video".getBytes("UTF-8"))
      .toDF("video_id", "payload")
    // the frame-ALIGNED operator misses the trim by design...
    val aligned = Multimodal.videoNearDupPairs(
      vids, "video_id", "payload", stride = 1, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!aligned.contains((0L, 1L)),
      s"aligned form must miss the time-shifted copy, got ${aligned.toSeq}")
    // ...the set-overlap form scores containment 1.0
    val shifted = Multimodal.videoNearDupPairsShifted(
      vids, "video_id", "payload", stride = 1, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(shifted.toSeq == Seq((0L, 1L, 6L, 1.0)),
      s"trim must pair at containment 1.0, got ${shifted.toSeq}")
    // maxHamming>0 routes hash-value pairs through hammingBandPairs;
    // on exact-copy fixtures it must agree with the exact path
    val tolerant = Multimodal.videoNearDupPairsShifted(
      vids, "video_id", "payload", stride = 1, minFrac = 0.5, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tolerant.contains((0L, 1L)) && !tolerant.exists(p => p._1 == 3L || p._2 == 3L),
      s"tolerance path must keep the trim pair and never pair junk, got ${tolerant.toSeq}")
    // stride caveat (documented): a 1-frame shift at stride 2 samples
    // DISJOINT content — detection is modulo the stride
    val offByOne = Seq(
      0L -> Multimodal.encodeAvi(12, 10, 8, pix(0)),
      1L -> Multimodal.encodeAvi(12, 10, 7,
        (f, x, y, c) => pix(0)(f + 1, x, y, c)))
      .toDF("video_id", "payload")
    assert(Multimodal.videoNearDupPairsShifted(
      offByOne, "video_id", "payload", stride = 2, minFrac = 0.5).isEmpty)
    assert(Multimodal.videoNearDupPairsShifted(
      offByOne, "video_id", "payload", stride = 1, minFrac = 0.5).count() == 1)
  }

  test("audio fingerprint: gain invariance, short-clip NULL, junk never pairs") {
    import spark.implicits._
    // the p_audio_near_dup family-1 parameters (437 frames, stereo):
    // the amplified burst provably flips 2 envelope bits there
    // encodeWav's sample callback is (channel, frame)
    def s0(c: Int, f: Int): Int = ((f * 31 + c * 17 + 101) % 4001) - 2000
    def hashOf(p: Array[Byte]): java.lang.Long =
      Seq(Tuple1(p)).toDF("p")
        .select(Multimodal.audioDHash(col("p")).as("h"))
        .collect().head.getAs[java.lang.Long]("h")
    val base = Multimodal.encodeWav(2, 8000, 437, s0)
    val louder = Multimodal.encodeWav(2, 8000, 437, (c, f) => s0(c, f) * 3)
    assert(hashOf(base) != null && hashOf(louder) == hashOf(base),
      "uniform gain must not move a single envelope-gradient bit")
    // a locally re-mixed copy moves bits; an unrelated clip scatters
    val burst = Multimodal.encodeWav(2, 8000, 437,
      (c, f) => s0(c, f) * (if ((f * 10) / 437 == 3) 4 else 1))
    val other = Multimodal.encodeWav(1, 8000, 400,
      (c, f) => ((f * 31 + c * 17 + 202) % 4001) - 2000)
    def ham(a: java.lang.Long, b: java.lang.Long): Int =
      java.lang.Long.bitCount(a ^ b)
    assert(ham(hashOf(burst), hashOf(base)) > 0)
    assert(ham(hashOf(other), hashOf(base)) > 3)
    // too short to fingerprint (< 65 frames) and junk → NULL
    assert(hashOf(Multimodal.encodeWav(1, 8000, 64, s0)) == null)
    assert(hashOf("not audio".getBytes("UTF-8")) == null)
    // pairing: only (base, louder); short/junk flow through unpaired
    val pairs = Multimodal.audioNearDupPairs(
      Seq(1L -> base, 2L -> louder, 3L -> other,
        4L -> Multimodal.encodeWav(1, 8000, 64, s0),
        5L -> "junk".getBytes("UTF-8")).toDF("clip_id", "payload"),
      "clip_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("shifted audio near-dup: catches the trim+gain copy the whole-clip hash misses") {
    import spark.implicits._
    // period 3989/53 ≈ 75 frames, comfortably off the 128-frame
    // segment length (a near-period-aligned sawtooth makes adjacent
    // segments hash EQUAL and the distinct set collapse — measured
    // with the *31 % 4001 formula, period ≈ 129)
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    val clips = Seq(
      // original: 640 frames = 5 full 128-frame segments
      0L -> Multimodal.encodeWav(2, 8000, 640, s0),
      // first segment trimmed AND gain x3 — both invariances composed
      1L -> Multimodal.encodeWav(2, 8000, 512, (c, f) => s0(c, f + 128) * 3),
      // unrelated envelope
      2L -> Multimodal.encodeWav(1, 8000, 640,
        (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
      // too short for even one segment, and junk: never pair
      3L -> Multimodal.encodeWav(1, 8000, 64, s0),
      4L -> "junk".getBytes("UTF-8"))
      .toDF("clip_id", "payload")
    // the whole-clip envelope hash re-stretches its 65 windows over
    // the trimmed length — the aligned pairs op misses the copy...
    val whole = Multimodal.audioNearDupPairs(clips, "clip_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!whole.contains((0L, 1L)),
      s"whole-clip hash must miss the trimmed copy, got ${whole.toSeq}")
    // ...the segment-set form pairs it at containment 1.0 (4 of the
    // original's 5 segment hashes survive: segments 1-4)
    val seg = Multimodal.audioNearDupPairsShifted(
      clips, "clip_id", "payload", segFrames = 128, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // containment: n_match == the copy's DISTINCT segment-hash count
    val copyDistinct = clips.filter(col("clip_id") === 1L)
      .select(explode(Multimodal.audioSegmentDHashes(col("payload"), 128)
        .getField("dhash"))).distinct().count()
    assert(copyDistinct == 4L, s"fixture degeneracy: copy has $copyDistinct distinct hashes")
    assert(seg.toSeq == Seq((0L, 1L, copyDistinct, 1.0)),
      s"trim+gain must pair at containment 1.0, got ${seg.toSeq}")
    // a trim NOT on a segment boundary samples disjoint content —
    // tolerance is modulo segFrames (the documented caveat)
    val offBoundary = Seq(
      0L -> Multimodal.encodeWav(2, 8000, 640, s0),
      1L -> Multimodal.encodeWav(2, 8000, 576, (c, f) => s0(c, f + 64)))
      .toDF("clip_id", "payload")
    assert(Multimodal.audioNearDupPairsShifted(
      offBoundary, "clip_id", "payload", segFrames = 128, minFrac = 0.5).isEmpty)
    // segFrames below one frame per envelope window refuses fast
    intercept[IllegalArgumentException] {
      Multimodal.audioNearDupPairsShifted(clips, "clip_id", "payload", segFrames = 64)
    }
  }

  test("set-overlap flood cap: a corpus-constant frame never pairs unrelated videos") {
    import spark.implicits._
    // every video OPENS with the same constant black frame (the
    // slate/intro pattern), then diverges into per-id content —
    // without the cap the shared frame-0 hash joins ALL videos
    // pairwise; with maxBucket=3 (< the 5 sharers) the flood hash is
    // dropped and only the real family (3, 4: full-content copies)
    // pairs
    def pix(b: Int)(f: Int, x: Int, y: Int, c: Int): Int =
      if (f == 0) 0 else ((x * 3 + y * 7 + c) * (b * 97 + 13) + b * 29) % 200
    val vids = (0L to 2L).map(i => i -> Multimodal.encodeAvi(12, 10, 6, pix(i.toInt))) ++ Seq(
      3L -> Multimodal.encodeAvi(12, 10, 6, pix(7)),
      4L -> Multimodal.encodeAvi(12, 10, 6, (f, x, y, c) => pix(7)(f, x, y, c) + 40))
    val df = vids.toDF("video_id", "payload")
    val capped = Multimodal.videoNearDupPairsShifted(
      df, "video_id", "payload", stride = 1, minFrac = 0.5, maxBucket = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((3L, 4L)),
      s"only the true copy family must pair once the flood hash is capped, got $capped")
    // and the cap is load-bearing: uncapped, the shared slate makes
    // every pair reach the join (frac 1/6 < 0.5 gates them out of the
    // OUTPUT, but the quadratic join volume is exactly what the cap
    // exists to prevent — assert the frac-level behavior too)
    val uncapped = Multimodal.videoNearDupPairsShifted(
      df, "video_id", "payload", stride = 1, minFrac = 0.1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 10, s"uncapped at low minFrac: all 10 pairs share the slate, got $uncapped")
  }

  test("chunked cell expansion: pair sets identical across chunkings (shifted media + cross-modal)") {
    import spark.implicits._
    // a corpus built to EXERCISE the chunking: every video opens with
    // the same slate frame (one hash shared by all 6 → k=6 at
    // chunkSize 1), one real copy family, per-id content elsewhere —
    // chunkSize=1 (maximal spread, every member its own chunk),
    // chunkSize=2 (mixed diagonal/cross cells) and the default
    // (k=1 degenerate single-cell path) must emit the IDENTICAL
    // (id_a, id_b, n_match, match_frac) set, at exact matching and
    // through the maxHamming>0 pigeonhole arm
    def pix(b: Int)(f: Int, x: Int, y: Int, c: Int): Int =
      if (f == 0) 0 else ((x * 3 + y * 7 + c) * (b * 97 + 13) + b * 29) % 200
    val vids = (0L to 3L).map(i =>
      i -> Multimodal.encodeAvi(12, 10, 6, pix(i.toInt))) ++ Seq(
      4L -> Multimodal.encodeAvi(12, 10, 6, pix(7)),
      5L -> Multimodal.encodeAvi(12, 10, 6,
        (f, x, y, c) => pix(7)(f, x, y, c) + 40))
    val vdf = vids.toDF("video_id", "payload")
    def vpairs(maxHamming: Int, chunkSize: Int) =
      Multimodal.videoNearDupPairsShifted(
        vdf, "video_id", "payload", stride = 1, minFrac = 0.1,
        maxHamming = maxHamming, chunkSize = chunkSize)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for (mh <- Seq(0, 3)) {
      val default = vpairs(mh, 256)
      assert(default.nonEmpty && default.exists(_._2 == 5L),
        s"fixture must pair through maxHamming=$mh, got $default")
      assert(vpairs(mh, 1) == default,
        s"chunkSize=1 must not change the maxHamming=$mh pair set")
      assert(vpairs(mh, 2) == default,
        s"chunkSize=2 must not change the maxHamming=$mh pair set")
    }
    // audio mirror: trim+gain copy through the segment-set core
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    val clips = Seq(
      0L -> Multimodal.encodeWav(2, 8000, 640, s0),
      1L -> Multimodal.encodeWav(2, 8000, 512, (c, f) => s0(c, f + 128) * 3),
      2L -> Multimodal.encodeWav(1, 8000, 640,
        (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898))
      .toDF("clip_id", "payload")
    def apairs(chunkSize: Int) =
      Multimodal.audioNearDupPairsShifted(
        clips, "clip_id", "payload", segFrames = 128, minFrac = 0.5,
        chunkSize = chunkSize)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val aDefault = apairs(256)
    assert(aDefault.map(p => (p._1, p._2)) == Set((0L, 1L)))
    assert(apairs(1) == aDefault, "audio chunkSize=1 must not change the pair set")
    // cross-modal: duplicate catalog entries force multi-member
    // blocks on the catalog side; the slate corpus floods the probe
    // side — matches must be bit-identical across chunkings
    def fpix(f: Int, x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + f * 41) % 180
    val mvids = Seq(
      0L -> Multimodal.encodeAvi(12, 10, 6, fpix),
      1L -> Multimodal.encodeAvi(12, 10, 6, (f, x, y, c) => fpix(f, x, y, c) + 40))
      .toDF("video_id", "payload")
    val mimgs = Seq(
      0L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => fpix(2, x, y, c)),
      1L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => fpix(2, x, y, c),
        y => (y + 1) % 5),
      2L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => fpix(4, x, y, c) + 40))
      .toDF("img_id", "payload")
    def matches(chunkSize: Int) =
      Multimodal.videoImageMatches(
        mvids, "video_id", "payload", 2, mimgs, "img_id", "payload",
        maxHamming = 3, chunkSize = chunkSize)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val mDefault = matches(256)
    assert(mDefault.size >= 6, s"both videos x 3 catalog stills must match, got $mDefault")
    assert(matches(1) == mDefault, "cross-modal chunkSize=1 must not change the match set")
    assert(matches(2) == mDefault, "cross-modal chunkSize=2 must not change the match set")
  }

  test("incremental image dedup: index gate drops history twins, excludeSameId spares changed docs") {
    import spark.implicits._
    def base(b: Int)(x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + b * 53) % 180
    val history = (0 until 4).map(b =>
      (b.toLong, Multimodal.encodePng(12, 10, 3, base(b))))
      .toDF("img_id", "payload")
    val index = Multimodal.imageHashIndex(history, "img_id", "payload")
    // an increment whose id space OVERLAPS history: id 0 is a CHANGED
    // version of history 0 (brightness shift — Hamming 0 of its OLD
    // SELF only), id 100 a twin of history 1, id 101 fresh, id 102 junk
    val increment = Seq(
      0L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => base(0)(x, y, c) + 40),
      100L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => base(1)(x, y, c) + 25),
      101L -> Multimodal.encodePng(12, 10, 3,
        (x, y, c) => ((x * 7 + y) * (c * 5 + 3) * 73 + x * y) % 256),
      102L -> "junk".getBytes("UTF-8")).toDF("img_id", "payload")
    // default (disjoint-id contract): the changed doc matches its old
    // self and drops with the twin
    val matchedDefault = Multimodal.imageNearDupIdsAgainstIndex(
      increment, "img_id", "payload", index)
      .collect().map(_.getLong(0)).toSet
    assert(matchedDefault == Set(0L, 100L), s"got $matchedDefault")
    // excludeSameId: the changed doc survives (its only match IS its
    // own previous version), the twin still drops
    val matchedExcl = Multimodal.imageNearDupIdsAgainstIndex(
      increment, "img_id", "payload", index, excludeSameId = true)
      .collect().map(_.getLong(0)).toSet
    assert(matchedExcl == Set(100L), s"got $matchedExcl")
    val kept = Multimodal.dedupImagesAgainstIndex(
      increment, "img_id", "payload", index)
      .select("img_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L, 102L), s"fresh + junk survive, got $kept")
    // chunked-cell equivalence on the index gate too
    val chunked = Multimodal.imageNearDupIdsAgainstIndex(
      increment, "img_id", "payload", index, chunkSize = 1)
      .collect().map(_.getLong(0)).toSet
    assert(chunked == matchedDefault, "chunkSize=1 must not change the matched set")
  }

  test("best-resolution survivor: the upscaled copy wins where min-id keeps the thumbnail") {
    import spark.implicits._
    def base(x: Int, y: Int, c: Int): Int = (x * 17 + y * 29 + c * 37) % 180
    val docs = Seq(
      0L -> Multimodal.encodePng(12, 10, 3, base), // the "thumbnail", smaller id
      1L -> Multimodal.encodePng(24, 20, 3,
        (x, y, c) => base(x / 2, y / 2, c) + 40),   // 2x original: same hash, 4x pixels
      2L -> Multimodal.encodePng(12, 10, 3,
        (x, y, c) => ((x * 7 + y) * (c * 5 + 3) * 73 + x * y) % 256), // unrelated
      3L -> "junk".getBytes("UTF-8"))
      .toDF("img_id", "payload")
    val minId = Multimodal.dedupImageNearDups(docs, "img_id", "payload")
      .select("img_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(0L, 2L, 3L), s"min-id keeps the thumbnail: got $minId")
    val best = Multimodal.dedupImageNearDupsBest(docs, "img_id", "payload")
      .select("img_id").collect().map(_.getLong(0)).toSet
    assert(best == Set(1L, 2L, 3L), s"best-resolution keeps the original: got $best")
  }

  test("cross-modal containment: an exported (even NN-upscaled) frame still matches its video") {
    import spark.implicits._
    def pix(f: Int, x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + f * 41) % 180
    val vids = Seq(
      0L -> Multimodal.encodeAvi(12, 10, 6, pix),
      1L -> "junk".getBytes("UTF-8")).toDF("video_id", "payload")
    val imgs = Seq(
      // exact export of frame 2 → Hamming 0
      0L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => pix(2, x, y, c)),
      // 2x NN upscale of the same frame, +40 brightness: BOTH
      // invariances across the modality boundary → still Hamming 0
      1L -> Multimodal.encodePng(24, 20, 3,
        (x, y, c) => pix(2, x / 2, y / 2, c) + 40),
      // unrelated noise image
      2L -> Multimodal.encodePng(12, 10, 3,
        (x, y, c) => ((x * 7 + y) * (c * 5 + 3) * 73 + x * y) % 256),
      3L -> "not an image".getBytes("UTF-8")).toDF("img_id", "payload")
    val got = Multimodal.videoImageMatches(
      vids, "video_id", "payload", 2, imgs, "img_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 2L, 0L, 0L), (0L, 2L, 1L, 0L)),
      s"exports (exact + upscaled/shifted) must match frame 2 at Hamming 0, got $got")
    // catalog-side flood cap: two identical catalog entries push every
    // block's membership to 2 — maxBucket=1 drops all their blocks and
    // nothing matches; the default cap keeps the matches
    val dupCatalog = Seq(
      10L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => pix(2, x, y, c)),
      11L -> Multimodal.encodePng(12, 10, 3, (x, y, c) => pix(2, x, y, c),
        y => (y + 1) % 5)).toDF("img_id", "payload")
    assert(Multimodal.videoImageMatches(
      vids, "video_id", "payload", 2, dupCatalog, "img_id", "payload",
      maxHamming = 3, maxBucket = 1).isEmpty,
      "flood-capped catalog blocks must not probe")
    assert(Multimodal.videoImageMatches(
      vids, "video_id", "payload", 2, dupCatalog, "img_id", "payload",
      maxHamming = 3).count() == 2, "default cap keeps both catalog matches")
  }
}
