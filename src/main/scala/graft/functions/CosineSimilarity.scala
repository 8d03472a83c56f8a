package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions, graftBridge}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is CodegenFallback: every row allocates a zipped array and runs an
  * interpreted fold — measurable overhead when the surrounding
  * operator evaluates millions of candidate pairs (brute-force top-k
  * scores |Q|·|N| pairs; IVF/LSH still score every candidate). This
  * expression fuses dot product and both norms into ONE pass over the
  * arrays with zero allocation, inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the HOF formulation the DuckDB oracle
  * mirrors (hash-compared per query, and property-tested against the
  * HOF column in FunctionsSpec):
  *
  *  - each product/square is computed in double (float→double is
  *    exact) and accumulated LEFT-TO-RIGHT, so doubles are
  *    bit-identical to `list_sum(list_transform(...))` in DuckDB;
  *  - result = dot / (sqrt(na) · sqrt(nb)), `0.0` when either norm is
  *    zero (the HOF's `when(n === 0, 0.0)` guard);
  *  - NULL if either array is NULL, the lengths differ, or any element
  *    is NULL (`zip_with` pads with NULL ⇒ NULL product ⇒ NULL sum).
  *
  * Registered as SQL function `graft_cosine` via [[GraftFunctions]] /
  * [[GraftExtensions]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // checkInputDataTypes instead of ExpectsInputTypes: the latter's
  // AbstractDataType is private[sql]; no implicit casts are wanted
  // anyway — inputs must already be array<float>.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // length mismatch / NULL element
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xe = x.getFloat(i).toDouble
      val ye = y.getFloat(i).toDouble
      dot += xe * ye; na += xe * xe; nb += ye * ye
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xe = ctx.freshName("xe")
      val ye = ctx.freshName("ye")
      val denom = ctx.freshName("denom")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    final double $xe = (double) $a.getFloat($i);
        |    final double $ye = (double) $b.getFloat($i);
        |    $dot += $xe * $ye; $na += $xe * $xe; $nb += $ye * $ye;
        |  }
        |  if (!${ev.isNull}) {
        |    final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
        |  }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration surface for the graft function library.
  *
  * Two idiomatic paths to the same registry entries:
  *  - cluster/config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (constructor-injected, survives `newSession()`);
  *  - library/runtime: `GraftFunctions.register(spark)` on a live
  *    session (what Verify/Bench and the specs use).
  */
object GraftFunctions {

  /** Column-API form of [[CosineSimilarity]]. */
  def cosine(a: Column, b: Column): Column =
    graftBridge.column(
      CosineSimilarity(graftBridge.expression(a), graftBridge.expression(b)))

  /** Column-API form of [[MinhashSignature]]: the k seeded-md5 minima
    * of a shingle array in one fused pass (array<string> of length k,
    * element j = min md5('<j>:' || s)). */
  def minhashSig(shingles: Column, k: Int): Column =
    graftBridge.column(
      MinhashSignature(graftBridge.expression(shingles), k))

  /** Column-API form of [[FingerprintMd5]]: fused
    * `md5(lower(regexp_replace(text, "\\s+", " ")))`. */
  def fingerprintMd5(text: Column): Column =
    graftBridge.column(FingerprintMd5(graftBridge.expression(text)))

  /** Column-API form of [[QuantizeInt8Summary]]: one-pass int8
    * quantization audit summary struct(scale, n_dims, sum_code,
    * min_code, max_code, n_zero). */
  def quantizeInt8Summary(vec: Column): Column =
    graftBridge.column(QuantizeInt8Summary(graftBridge.expression(vec)))

  /** Column-API form of [[Md5Prefix64]]: first 8 md5 digest bytes of
    * a string as a big-endian long (the simhash token hash). */
  def md5Prefix64(s: Column): Column =
    graftBridge.column(Md5Prefix64(graftBridge.expression(s)))

  /** Column-API form of [[SignedRandomProjection]]: all `outDim`
    * ±1-signed JL projections of a float/double vector in one fused
    * kernel (bit-identical to the unrolled fold it replaces). */
  def signedProjection(vec: Column, dim: Int, outDim: Int, tag: String): Column =
    graftBridge.column(
      SignedRandomProjection(graftBridge.expression(vec), dim, outDim, tag))

  /** Column-API form of [[Shingles]]: fused
    * `wordShinglesFromTokens(toks, n)` — all positional n-grams with
    * multiplicity. */
  def shingles(toks: Column, n: Int): Column =
    graftBridge.column(Shingles(graftBridge.expression(toks), n))

  /** Column-API form of [[DistinctShingles]]: fused
    * `array_distinct(wordShinglesFromTokens(toks, n))`. */
  def distinctShingles(toks: Column, n: Int): Column =
    graftBridge.column(DistinctShingles(graftBridge.expression(toks), n))

  /** Column-API form of [[ShingleHashes64]]: fused
    * `array_sort(transform(array_distinct(shingles(toks, n)), xxhash64))`. */
  def shingleHashes64(toks: Column, n: Int): Column =
    graftBridge.column(ShingleHashes64(graftBridge.expression(toks), n))

  /** Column-API form of [[L2Squared]]: fused one-pass squared L2. */
  def l2sq(a: Column, b: Column): Column =
    graftBridge.column(
      L2Squared(graftBridge.expression(a), graftBridge.expression(b)))

  /** Column-API form of [[JpegSofDims]]: array<long> [width, height,
    * channels] of a JPEG payload, NULL when absent/undecodable. */
  def jpegSofDims(payload: Column): Column =
    graftBridge.column(JpegSofDims(graftBridge.expression(payload)))

  /** Column-API form of [[PngPixels]]: raw decoded pixel bytes
    * (row-major, channel-interleaved) of an 8-bit non-interlaced
    * PNG payload; NULL when unsupported/corrupt. */
  def pngPixels(payload: Column): Column =
    graftBridge.column(PngPixels(graftBridge.expression(payload)))

  /** Column-API form of [[PngPixelStats]]: array<double>
    * [width, height, channels, mean_ch1, …]; NULL like [[pngPixels]]. */
  def pngPixelStats(payload: Column): Column =
    graftBridge.column(PngPixelStats(graftBridge.expression(payload)))

  /** Column-API form of [[JpegPixels]]: raw decoded pixel bytes of a
    * JPEG payload (JDK ImageIO reader); NULL when undecodable. */
  def jpegPixels(payload: Column): Column =
    graftBridge.column(JpegPixels(graftBridge.expression(payload)))

  /** Column-API form of [[JpegPixelStats]]: array<double>
    * [width, height, channels, mean_ch1, …]; NULL like [[jpegPixels]]. */
  def jpegPixelStats(payload: Column): Column =
    graftBridge.column(JpegPixelStats(graftBridge.expression(payload)))

  /** Column-API form of [[TopKLargest]]: aggregate the k largest
    * values per group into a descending array — the O(k)-state,
    * map-side-partial replacement for the full window sort. */
  def topK(value: Column, k: Int): Column =
    graftBridge.column(
      TopKLargest(graftBridge.expression(value), k).toAggregateExpression())

  /** Column-API form of [[BmpPixels]]: raw decoded pixel bytes of a
    * 24-bit uncompressed BMP (shared decoder layout); NULL when
    * unsupported/corrupt. */
  def bmpPixels(payload: Column): Column =
    graftBridge.column(BmpPixels(graftBridge.expression(payload)))

  /** Column-API form of [[BmpPixelStats]]: array<double>
    * [width, height, 3, mean_R, mean_G, mean_B]; NULL like
    * [[bmpPixels]]. */
  def bmpPixelStats(payload: Column): Column =
    graftBridge.column(BmpPixelStats(graftBridge.expression(payload)))

  /** Column-API form of [[JaroWinkler]]: fuzzy string similarity in
    * [0, 1] (Winkler prefix boost), the entity-reconciliation verify
    * scalar. */
  def jaroWinkler(a: Column, b: Column): Column =
    graftBridge.column(JaroWinkler(
      graftBridge.expression(a), graftBridge.expression(b)))

  /** Column-API form of [[GifPixels]]: raw decoded first-frame pixels
    * of a GIF payload (full LZW + de-interlace); NULL when
    * unsupported/corrupt. */
  def gifPixels(payload: Column): Column =
    graftBridge.column(GifPixels(graftBridge.expression(payload)))

  /** Column-API form of [[GifPixelStats]]: array<double>
    * [width, height, 3, mean_R, mean_G, mean_B]; NULL like
    * [[gifPixels]]. */
  def gifPixelStats(payload: Column): Column =
    graftBridge.column(GifPixelStats(graftBridge.expression(payload)))

  /** Column-API form of [[WavSamples]]: decoded interleaved i16 PCM
    * samples as big-endian BINARY (hex() reads as the %04x dump). */
  def wavSamples(payload: Column): Column =
    graftBridge.column(WavSamples(graftBridge.expression(payload)))

  /** Column-API form of [[WavSampleStats]]: array<double>
    * [channels, sample_rate, n_frames, mean_ch…, rms_ch…] of a PCM
    * WAV payload; NULL when absent/undecodable. */
  def wavSampleStats(payload: Column): Column =
    graftBridge.column(WavSampleStats(graftBridge.expression(payload)))

  /** Column-API form of [[ImageResizeNN]]: nearest-neighbor resize of
    * a raw pixel buffer (the shared decoder layout) to dstW×dstH. */
  def resizeNN(pixels: Column, srcW: Column, srcH: Column, channels: Column,
      dstW: Column, dstH: Column): Column =
    graftBridge.column(ImageResizeNN(
      Seq(pixels, srcW, srcH, channels, dstW, dstH).map(graftBridge.expression)))

  /** Column-API form of [[ImageDHash64]]: 64-bit perceptual
    * difference hash of a raw pixel buffer (9×8 NN grid → integer
    * luma → horizontal gradient signs); NULL when the pixels are
    * NULL or the buffer breaks the w·h·ch layout contract. */
  def imageDHash64(pixels: Column, width: Column, height: Column,
      channels: Column): Column =
    graftBridge.column(ImageDHash64(
      Seq(pixels, width, height, channels).map(graftBridge.expression)))

  /** Column-API form of [[AudioDHash64]]: 64-bit gain-invariant
    * energy-envelope fingerprint of a PCM WAV payload; NULL when
    * undecodable or under 65 frames. */
  def audioDHash64(payload: Column): Column =
    graftBridge.column(AudioDHash64(graftBridge.expression(payload)))

  /** Column-API form of [[AudioSegmentDHashes]]:
    * array<struct<seg_idx:int, dhash:long>> — one envelope hash per
    * fixed-length segment, one decode; the trim-tolerant form. */
  def audioSegmentDHashes(payload: Column, segFrames: Column): Column =
    graftBridge.column(AudioSegmentDHashes(
      graftBridge.expression(payload), graftBridge.expression(segFrames)))

  /** Column-API form of [[AudioSegmentDHashesMs]]: segment length in
    * MILLISECONDS, frames derived per clip from the header rate; the
    * sample-rate-tolerant form. */
  def audioSegmentDHashesMs(payload: Column, ms: Column): Column =
    graftBridge.column(AudioSegmentDHashesMs(
      graftBridge.expression(payload), graftBridge.expression(ms)))

  /** Column-API form of [[GifAnimMeta]]: struct<width, height,
    * n_frames> of a GIF payload (directory walk, no decode). */
  def gifAnimMeta(payload: Column): Column =
    graftBridge.column(GifAnimMeta(graftBridge.expression(payload)))

  /** Column-API form of [[GifFrameDHashes]]: per-frame dHashes of the
    * composited animation canvas — the AviFrameDHashes shape for the
    * GIF container, one kernel across containers. */
  def gifFrameDHashes(payload: Column, stride: Column): Column =
    graftBridge.column(GifFrameDHashes(
      graftBridge.expression(payload), graftBridge.expression(stride)))

  /** Column-API form of [[GifFrameStats]]: per-frame mean brightness
    * of the composited animation canvas (exact palette arithmetic). */
  def gifFrameStats(payload: Column, stride: Column): Column =
    graftBridge.column(GifFrameStats(
      graftBridge.expression(payload), graftBridge.expression(stride)))

  /** Column-API form of [[AudioSlidingDHashes]]:
    * array<struct<offset:int, dhash:long>> — one envelope hash per
    * segFrames-frame window at every hop-th start frame, the
    * arbitrary-offset probe frontier (prefix-sum kernel, linear in
    * nFrames at hop = 1). */
  def audioSlidingDHashes(payload: Column, segFrames: Column, hop: Column): Column =
    graftBridge.column(AudioSlidingDHashes(
      graftBridge.expression(payload), graftBridge.expression(segFrames),
      graftBridge.expression(hop)))

  /** Column-API form of [[AviMeta]]: struct<width, height, fps_num,
    * fps_den, n_frames> of an uncompressed AVI payload; NULL when
    * absent/undecodable. */
  def aviMeta(payload: Column): Column =
    graftBridge.column(AviMeta(graftBridge.expression(payload)))

  /** Column-API form of [[AviFramePixels]]: one decoded frame
    * (top-down row-major RGB bytes — the [[PngPixels]] layout);
    * NULL when out of scope or out of range. */
  def aviFrame(payload: Column, frameIdx: Column): Column =
    graftBridge.column(AviFramePixels(
      graftBridge.expression(payload), graftBridge.expression(frameIdx)))

  /** Column-API form of [[AviFrameStats]]:
    * array<struct<frame_idx, mean>> for every stride-th frame. */
  def aviFrameStats(payload: Column, stride: Column): Column =
    graftBridge.column(AviFrameStats(
      graftBridge.expression(payload), graftBridge.expression(stride)))

  /** Column-API form of [[AviFrameDHashes]]:
    * array<struct<frame_idx:int, dhash:long>> for every stride-th
    * frame, ONE container walk; raw frames never allocate a buffer,
    * MJPEG frames decode only when sampled. */
  def aviFrameDHashes(payload: Column, stride: Column): Column =
    graftBridge.column(AviFrameDHashes(
      graftBridge.expression(payload), graftBridge.expression(stride)))

  /** Column-API form of [[AudioSegmentStats]]:
    * array<struct<seg_idx:int, mean_abs:double, peak:int>> — the
    * per-segment level/silence gate signal, one decode. */
  def audioSegmentStats(payload: Column, segFrames: Column): Column =
    graftBridge.column(AudioSegmentStats(
      graftBridge.expression(payload), graftBridge.expression(segFrames)))

  /** Column-API form of [[AviAudioSegmentDHashes]]:
    * array<struct<seg_idx:int, dhash:long>> — segment envelope
    * fingerprints of the container's PCM 'auds' track, the
    * audio-in-video containment frontier. */
  def aviAudioSegmentDHashes(payload: Column, segFrames: Column): Column =
    graftBridge.column(AviAudioSegmentDHashes(
      graftBridge.expression(payload), graftBridge.expression(segFrames)))

  private[graft] val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("graft_cosine"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_cosine expects 2 arguments, got ${args.length}")
          CosineSimilarity(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_l2sq"),
        new ExpressionInfo(classOf[L2Squared].getName, "graft_l2sq"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_l2sq expects 2 arguments, got ${args.length}")
          L2Squared(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_intersect_count"),
        new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_intersect_count"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_intersect_count expects 2 arguments, got ${args.length}")
          SortedIntersectCount(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_sorted_jaccard"),
        new ExpressionInfo(classOf[SortedJaccard].getName, "graft_sorted_jaccard"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_sorted_jaccard expects 2 arguments, got ${args.length}")
          SortedJaccard(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_jpeg_sof"),
        new ExpressionInfo(classOf[JpegSofDims].getName, "graft_jpeg_sof"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_jpeg_sof expects 1 argument, got ${args.length}")
          JpegSofDims(args(0))
        }),
      (
        FunctionIdentifier("graft_png_pixels"),
        new ExpressionInfo(classOf[PngPixels].getName, "graft_png_pixels"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_png_pixels expects 1 argument, got ${args.length}")
          PngPixels(args(0))
        }),
      (
        FunctionIdentifier("graft_png_stats"),
        new ExpressionInfo(classOf[PngPixelStats].getName, "graft_png_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_png_stats expects 1 argument, got ${args.length}")
          PngPixelStats(args(0))
        }),
      (
        FunctionIdentifier("graft_jpeg_pixels"),
        new ExpressionInfo(classOf[JpegPixels].getName, "graft_jpeg_pixels"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_jpeg_pixels expects 1 argument, got ${args.length}")
          JpegPixels(args(0))
        }),
      (
        FunctionIdentifier("graft_jpeg_stats"),
        new ExpressionInfo(classOf[JpegPixelStats].getName, "graft_jpeg_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_jpeg_stats expects 1 argument, got ${args.length}")
          JpegPixelStats(args(0))
        }),
      (
        FunctionIdentifier("graft_avi_meta"),
        new ExpressionInfo(classOf[AviMeta].getName, "graft_avi_meta"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_avi_meta expects 1 argument, got ${args.length}")
          AviMeta(args(0))
        }),
      (
        FunctionIdentifier("graft_avi_frame"),
        new ExpressionInfo(classOf[AviFramePixels].getName, "graft_avi_frame"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_avi_frame expects 2 arguments, got ${args.length}")
          AviFramePixels(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_avi_frame_stats"),
        new ExpressionInfo(classOf[AviFrameStats].getName, "graft_avi_frame_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_avi_frame_stats expects 2 arguments, got ${args.length}")
          AviFrameStats(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_audio_segment_dhashes"),
        new ExpressionInfo(classOf[AudioSegmentDHashes].getName, "graft_audio_segment_dhashes"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_audio_segment_dhashes expects 2 arguments, got ${args.length}")
          AudioSegmentDHashes(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_audio_segment_dhashes_ms"),
        new ExpressionInfo(classOf[AudioSegmentDHashesMs].getName, "graft_audio_segment_dhashes_ms"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_audio_segment_dhashes_ms expects 2 arguments, got ${args.length}")
          AudioSegmentDHashesMs(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_avi_frame_dhashes"),
        new ExpressionInfo(classOf[AviFrameDHashes].getName, "graft_avi_frame_dhashes"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_avi_frame_dhashes expects 2 arguments, got ${args.length}")
          AviFrameDHashes(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_audio_segment_stats"),
        new ExpressionInfo(classOf[AudioSegmentStats].getName, "graft_audio_segment_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_audio_segment_stats expects 2 arguments, got ${args.length}")
          AudioSegmentStats(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_avi_audio_segment_dhashes"),
        new ExpressionInfo(classOf[AviAudioSegmentDHashes].getName, "graft_avi_audio_segment_dhashes"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_avi_audio_segment_dhashes expects 2 arguments, got ${args.length}")
          AviAudioSegmentDHashes(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_bmp_pixels"),
        new ExpressionInfo(classOf[BmpPixels].getName, "graft_bmp_pixels"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_bmp_pixels expects 1 argument, got ${args.length}")
          BmpPixels(args(0))
        }),
      (
        FunctionIdentifier("graft_bmp_stats"),
        new ExpressionInfo(classOf[BmpPixelStats].getName, "graft_bmp_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_bmp_stats expects 1 argument, got ${args.length}")
          BmpPixelStats(args(0))
        }),
      (
        FunctionIdentifier("graft_jaro_winkler"),
        new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_jaro_winkler expects 2 arguments, got ${args.length}")
          JaroWinkler(args(0), args(1))
        }),
      (
        FunctionIdentifier("graft_gif_pixels"),
        new ExpressionInfo(classOf[GifPixels].getName, "graft_gif_pixels"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_gif_pixels expects 1 argument, got ${args.length}")
          GifPixels(args(0))
        }),
      (
        FunctionIdentifier("graft_gif_stats"),
        new ExpressionInfo(classOf[GifPixelStats].getName, "graft_gif_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_gif_stats expects 1 argument, got ${args.length}")
          GifPixelStats(args(0))
        }),
      (
        FunctionIdentifier("graft_wav_samples"),
        new ExpressionInfo(classOf[WavSamples].getName, "graft_wav_samples"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_wav_samples expects 1 argument, got ${args.length}")
          WavSamples(args(0))
        }),
      (
        FunctionIdentifier("graft_wav_stats"),
        new ExpressionInfo(classOf[WavSampleStats].getName, "graft_wav_stats"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_wav_stats expects 1 argument, got ${args.length}")
          WavSampleStats(args(0))
        }),
      (
        FunctionIdentifier("graft_resize_nn"),
        new ExpressionInfo(classOf[ImageResizeNN].getName, "graft_resize_nn"),
        (args: Seq[Expression]) => {
          require(args.length == 6, s"graft_resize_nn expects 6 arguments, got ${args.length}")
          ImageResizeNN(args)
        }),
      (
        FunctionIdentifier("graft_audio_dhash"),
        new ExpressionInfo(classOf[AudioDHash64].getName, "graft_audio_dhash"),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"graft_audio_dhash expects 1 argument, got ${args.length}")
          AudioDHash64(args(0))
        }),
      (
        FunctionIdentifier("graft_image_dhash"),
        new ExpressionInfo(classOf[ImageDHash64].getName, "graft_image_dhash"),
        (args: Seq[Expression]) => {
          require(args.length == 4, s"graft_image_dhash expects 4 arguments, got ${args.length}")
          ImageDHash64(args)
        }),
      (
        FunctionIdentifier("graft_top_k"),
        new ExpressionInfo(classOf[TopKLargest].getName, "graft_top_k"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"graft_top_k expects 2 arguments, got ${args.length}")
          val k = args(1) match {
            case e if e.foldable && e.dataType == IntegerType =>
              e.eval().asInstanceOf[Int]
            case other => throw new IllegalArgumentException(
              s"graft_top_k k must be an int literal, got $other")
          }
          TopKLargest(args(0), k)
        }))

  /** Register every graft SQL function on a live session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** `spark.sql.extensions` entry point (SURVEY §7.2: custom Catalyst
  * work registered via `SparkSessionExtensions`) — the function
  * library. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}
