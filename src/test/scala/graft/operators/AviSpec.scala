package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{AviDecode, GraftFunctions}

/** AVI frame decoder: a GOLDEN container hand-assembled field by field
  * from the public RIFF/AVI spec (little-endian sizes, even padding,
  * hdrl/strl/movi lists, bottom-up padded BGR '00db' frames) and
  * pinned as hex — independent of [[Multimodal.encodeAvi]], so the
  * encoder can't round-trip its own misreading green — plus
  * encode→decode round trips over both row orders, bounds, and the
  * container-bomb guard.
  */
class AviSpec extends SparkSpec {

  /** 2×2, 2 frames, 15 fps, pixel(f,x,y,c) = f·100 + y·10 + x·4 + c,
    * bottom-up BGR rows padded to 4 bytes — assembled by hand. */
  private val Golden =
    "5249464608010000415649204c495354c00000006864726c61766968380000006a040100000000000000000000000000020000000000000001000000000000000200000002000000000000000000000000000000000000004c495354740000007374726c73747268380000007669647344494220000000000000000000000000010000000f000000000000000200000010000000ffffffff0000000000000000000000007374726628000000280000000200000002000000010018000000000010000000000000000000000000000000000000004c495354340000006d6f766930306462100000000c0b0a100f0e000002010006050400003030646210000000706f6e74737200006665646a69680000"
  private val GoldenFrame0 = "0001020405060a0b0c0e0f10" // top-down RGB
  private val GoldenFrame1 = "64656668696a6e6f70727374"

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def toHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  test("golden container: metadata decodes to the authored header fields") {
    val d = AviDecode.decode(hex(Golden))
    assert(d != null, "golden AVI must decode")
    assert(d.width == 2 && d.height == 2)
    assert(d.fpsNum == 15 && d.fpsDen == 1)
    assert(d.frames.length == 2)
  }

  test("golden container: frames decode to exact top-down RGB bytes") {
    val d = AviDecode.decode(hex(Golden))
    assert(toHex(d.frames(0)) == GoldenFrame0)
    assert(toHex(d.frames(1)) == GoldenFrame1)
  }

  test("golden container through the Column API: meta, frame, stats") {
    import spark.implicits._
    val df = Seq(hex(Golden)).toDF("payload")
    val r = df.select(
      Multimodal.videoMeta(col("payload")),
      Multimodal.videoFramePixels(col("payload"), lit(0)),
      Multimodal.frameSample(col("payload"), 1)).head()
    assert(r.getStruct(0) == Row(2, 2, 15, 1, 2))
    assert(toHex(r.getAs[Array[Byte]](1)) == GoldenFrame0)
    // means authored into the fixture: frame0 = 8.0, frame1 = 108.0
    assert(r.getSeq[Row](2) == Seq(Row(0L, 8.0), Row(1L, 108.0)))
    // stride 2 samples only frame 0
    val s2 = df.select(Multimodal.frameSample(col("payload"), 2)).head().getSeq[Row](0)
    assert(s2 == Seq(Row(0L, 8.0)))
  }

  test("encode→decode round trip: bottom-up and top-down row orders agree") {
    def px(f: Int, x: Int, y: Int, c: Int) = (f * 11 + x * 3 + y * 5 + c * 7) % 256
    for (topDown <- Seq(false, true)) {
      val avi = Multimodal.encodeAvi(5, 3, 4, px, fpsNum = 24, topDown = topDown)
      val d = AviDecode.decode(avi)
      assert(d != null && d.width == 5 && d.height == 3 && d.frames.length == 4)
      for (f <- 0 until 4) {
        val want = (for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3)
          yield (px(f, x, y, c) & 0xFF).toByte).toArray
        assert(d.frames(f).sameElements(want), s"frame $f topDown=$topDown")
      }
    }
  }

  test("frame index out of range, negative, or bad stride → NULL") {
    import spark.implicits._
    val df = Seq(Multimodal.encodeAvi(2, 2, 2, (_, _, _, _) => 7)).toDF("payload")
    assert(df.select(Multimodal.videoFramePixels(col("payload"), lit(2))).head().isNullAt(0))
    assert(df.select(Multimodal.videoFramePixels(col("payload"), lit(-1))).head().isNullAt(0))
    assert(df.select(GraftFunctions.aviFrameStats(col("payload"), lit(0))).head().isNullAt(0))
  }

  test("non-AVI, truncated, and compressed payloads → NULL (honest absence)") {
    assert(AviDecode.decode("not a video".getBytes) == null)
    val avi = Multimodal.encodeAvi(4, 4, 2, (_, x, y, _) => x + y)
    assert(AviDecode.decode(avi.take(avi.length / 2)) == null, "truncated movi")
    assert(AviDecode.decode(avi.take(20)) == null, "truncated header")
    // flip biCompression (strf data offset +16) to a nonzero codec id
    val strfAt = avi.indexOfSlice("strf".getBytes)
    val mjpg = avi.clone(); mjpg(strfAt + 8 + 16) = 1
    assert(AviDecode.decode(mjpg) == null, "non-BI_RGB must refuse, not garble")
  }

  test("container bomb: huge declared dimensions refused before allocation") {
    val avi = Multimodal.encodeAvi(4, 4, 1, (_, _, _, _) => 0)
    val strfAt = avi.indexOfSlice("strf".getBytes)
    val bomb = avi.clone()
    // biWidth = biHeight = 65536 (LE int at strf data +4 / +8): 12 GiB
    // of decoded pixels declared by a ~100-byte payload
    for ((off, v) <- Seq(strfAt + 8 + 4 -> 65536, strfAt + 8 + 8 -> 65536); i <- 0 until 4)
      bomb(off + i) = ((v >> (8 * i)) & 0xFF).toByte
    assert(AviDecode.decode(bomb) == null)
  }

  test("golden BMP: hand-assembled container decodes to exact RGB, guards hold") {
    import graft.functions.BmpDecode
    // 3×2 bottom-up 24-bit, pixel(x,y,c) = x·10 + y·40 + c, row pad 3→12
    val goldenBmp =
      "424d4e0000000000000036000000280000000300000002000000010018000000000018000000130b0000130b000000000000000000002a29283433323e3d3c0000000201000c0b0a161514000000"
    val d = BmpDecode.decode(hex(goldenBmp))
    assert(d != null && d.width == 3 && d.height == 2)
    assert(toHex(d.pixels) == "0001020a0b0c14151628292a3233343c3d3e")
    // encode→decode round trip over both row orders
    for (topDown <- Seq(false, true)) {
      val rt = BmpDecode.decode(
        Multimodal.encodeBmp(5, 3, (x, y, c) => (x * 7 + y * 3 + c) % 256, topDown))
      val want = (for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3)
        yield ((x * 7 + y * 3 + c) % 256).toByte).toArray
      assert(rt != null && rt.pixels.sameElements(want), s"topDown=$topDown")
    }
    // guards: truncated, wrong bit depth, data offset past the buffer
    val ok = Multimodal.encodeBmp(4, 4, (_, _, _) => 9)
    assert(BmpDecode.decode(ok.take(40)) == null)
    val b8 = ok.clone(); b8(28) = 8; assert(BmpDecode.decode(b8) == null)
    val far = ok.clone(); far(10) = 0x7F; assert(BmpDecode.decode(far) == null)
    // imagePixels dispatches BMP by magic alongside PNG/JPEG
    import spark.implicits._
    val viaDispatch = Seq(ok).toDF("payload")
      .select(Multimodal.imagePixels(col("payload"))).head().getAs[Array[Byte]](0)
    assert(viaDispatch.length == 4 * 4 * 3 && viaDispatch.forall(_ == 9.toByte))
  }

  test("resizeNN: identity, exact down/upscale, guards (shared pixel layout)") {
    import spark.implicits._
    import graft.functions.GraftFunctions.resizeNN
    // 4×2 RGB buffer with position-coded bytes
    val src = (0 until 4 * 2 * 3).map(_.toByte).toArray
    val df = Seq(src).toDF("px")
    def rz(tw: Int, th: Int) =
      df.select(resizeNN(col("px"), lit(4), lit(2), lit(3), lit(tw), lit(th))).head()
    // identity: every byte preserved
    assert(rz(4, 2).getAs[Array[Byte]](0).sameElements(src))
    // 2×1 downscale: out(x,y) = src(2x, 2y) per the floor rule
    val down = rz(2, 1).getAs[Array[Byte]](0)
    val want = Array(0, 1, 2, 6, 7, 8).map(_.toByte)
    assert(down.sameElements(want), down.mkString(","))
    // 8×4 upscale: pixel (7,3) maps to src (3,1) - last source pixel
    val up = rz(8, 4).getAs[Array[Byte]](0)
    assert(up.length == 8 * 4 * 3)
    assert(up.slice(up.length - 3, up.length).sameElements(src.slice(21, 24)))
    // wrong buffer length for declared dims -> NULL
    assert(df.select(resizeNN(col("px"), lit(5), lit(2), lit(3), lit(2), lit(2)))
      .head().isNullAt(0))
    // upscale bomb: 8k x 8k x 3 > 64 MiB -> NULL before allocation
    assert(df.select(resizeNN(col("px"), lit(4), lit(2), lit(3), lit(8192), lit(8192)))
      .head().isNullAt(0))
    // AVI frame feeds the same resize (layout contract across decoders)
    val avi = Multimodal.encodeAvi(4, 2, 1, (_, x, y, c) => (y * 4 + x) * 3 + c)
    val frameResized = Seq(avi).toDF("payload").select(
      resizeNN(Multimodal.videoFramePixels(col("payload"), lit(0)),
        lit(4), lit(2), lit(3), lit(2), lit(1))).head().getAs[Array[Byte]](0)
    assert(frameResized.sameElements(want))
  }

  test("aviFrameDHashes ≡ imageDHash64∘videoFramePixels per sampled frame (one-pass result equivalence)") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{aviFrameDHashes, imageDHash64}
    // Varied shapes: odd width (wire-row padding ≠ 0), both row
    // orders, width/height below and above the 9×8 dHash grid —
    // the composed form decodes the full container per frame; the
    // one-pass form must be bit-identical on every sampled frame.
    val fixtures = for {
      (w, h, nf) <- Seq((5, 3, 7), (12, 10, 4), (9, 8, 1), (16, 9, 10))
      topDown <- Seq(false, true)
    } yield Multimodal.encodeAvi(w, h, nf,
      (f, x, y, c) => (f * 37 + x * 11 + y * 23 + c * 5) % 256,
      fpsNum = 30, topDown = topDown)
    for (avi <- fixtures; stride <- Seq(1, 2, 3)) {
      val df = Seq(avi).toDF("payload")
      val onePass = df.select(explode(aviFrameDHashes(col("payload"), lit(stride))).as("e"))
        .select(col("e.frame_idx"), col("e.dhash"))
        .as[(Int, Long)].collect().toSeq
      val m = df.select(Multimodal.videoMeta(col("payload")).as("m"))
        .select(col("m.n_frames"), col("m.width"), col("m.height"))
        .as[(Int, Int, Int)].head()
      val composed = (0 until m._1 by stride).map { f =>
        val dh = df.select(imageDHash64(
          Multimodal.videoFramePixels(col("payload"), lit(f)),
          lit(m._2), lit(m._3), lit(3))).as[Long].head()
        (f, dh)
      }
      assert(onePass == composed, s"stride=$stride w=${m._2} h=${m._3}")
    }
    // scope edges: non-AVI → NULL; stride<1 → NULL
    val junk = Seq("not a video".getBytes).toDF("payload")
    assert(junk.select(aviFrameDHashes(col("payload"), lit(2))).head().isNullAt(0))
    assert(Seq(fixtures.head).toDF("payload")
      .select(aviFrameDHashes(col("payload"), lit(0))).head().isNullAt(0))
  }

  test("videoNearDupPairs through the one-pass frontier matches the composed-form pairs") {
    import spark.implicits._
    import graft.functions.GraftFunctions.imageDHash64
    // 3 videos: b = a with a uniform brightness shift on every frame
    // (dHash-invariant ⇒ full match), c = unrelated noise.
    def pxA(f: Int, x: Int, y: Int, c: Int) = (f * 31 + x * 13 + y * 17 + c * 3) % 200
    val a = Multimodal.encodeAvi(12, 10, 6, pxA)
    val b = Multimodal.encodeAvi(12, 10, 6, (f, x, y, c) => pxA(f, x, y, c) + 40)
    val cvid = Multimodal.encodeAvi(12, 10, 6,
      (f, x, y, c) => ((f * 7 + x) * (y * 5 + c) * 73 + x * y) % 256)
    val docs = Seq(("a", a), ("b", b), ("c", cvid)).toDF("id", "payload")
    val got = Multimodal.videoNearDupPairs(docs, "id", "payload", stride = 2)
      .select("id_a", "id_b", "n_match").as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 3L)), got.toString)
    // Composed-form oracle, computed inline the way the pre-one-pass
    // operator did it: explode frame indices, decode per frame.
    val m = Multimodal.videoMeta(col("payload"))
    val frames = docs.select(col("id"), col("payload"), m.as("__m"))
      .filter(col("__m").isNotNull && col("__m.n_frames") > 0)
      .select(col("id"), col("payload"),
        explode(sequence(lit(0), col("__m.n_frames").cast("int") - 1, lit(2))).as("__f"),
        col("__m"))
      .select(col("id"), col("__f"), imageDHash64(
        Multimodal.videoFramePixels(col("payload"), col("__f")),
        col("__m.width").cast("int"), col("__m.height").cast("int"), lit(3)).as("__dh"))
    val oracle = frames.as("x").join(frames.as("y"), Seq("__f", "__dh"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id"), col("y.id")).count()
      .as[(String, String, Long)].collect().toSeq
    assert(oracle == Seq(("a", "b", 3L)), oracle.toString)
  }

  test("frameSample falls back to NULL on non-AVI payloads (stub routes those)") {
    import spark.implicits._
    val df = Seq("plain text payload".getBytes).toDF("payload")
    assert(df.select(Multimodal.frameSample(col("payload"), 2)).head().isNullAt(0))
  }
}
