package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `BINARY` payloads + typed
  * metadata structs, as a training-data pipeline would carry images /
  * audio / video alongside text (SURVEY §2.9).
  *
  * The Spark-side mechanics are real — schema, partition-friendly
  * column layout, deterministic per-row derivations that whole-stage
  * codegen handles. Header METADATA decode is real for PNG, BMP, GIF
  * ([[imageMeta]]: pure byte-level expressions, no codec library),
  * WAV ([[audioMeta]] header + [[audioSampleStats]] REAL PCM sample
  * decode) and JPEG (the native codegen'd SOF segment
  * walk [[graft.functions.JpegSofDims]]); other payloads fall back
  * to the deterministic [[imageMetaStub]]. PIXEL decode is REAL for
  * PNG ([[imagePixels]]/[[imagePixelStats]] — zlib inflate via the
  * JDK + scanline unfilter, decompression-bomb-guarded; see
  * [[graft.functions.PngPixels]]) and for baseline JPEG (the JDK's
  * bundled ImageIO reader, [[graft.functions.JpegPixels]] — same
  * output layout, same bomb guard, spec-gated because JPEG IDCT
  * rounding is decoder-specific). Video frame sampling is REAL for
  * uncompressed BI_RGB AVI ([[videoMeta]]/[[frameSample]] via the
  * RIFF walker [[graft.functions.AviDecode]] — frames come out in
  * the PngPixels byte layout); compressed codecs (MJPG/H.264/…)
  * sample as NULL until a JNI/py bridge at the `mapPartitions`
  * boundary decodes them, with the AVI path as the layout contract
  * that bridge must match.
  */
object Multimodal {

  /** Synthesize an opaque binary payload from a text column (the
    * driver corpus has no media files; UTF-8 bytes stand in as the
    * payload while keeping every downstream op byte-faithful). */
  def payloadOf(text: Column): Column = text.cast("binary")

  def payloadLen(payload: Column): Column = octet_length(payload).cast("long")

  /** Stable content id of the payload bytes. */
  def payloadMd5(payload: Column): Column = md5(payload)

  /** First `n` payload bytes as lowercase hex (magic-number sniffing
    * in a real pipeline). */
  def headHex(payload: Column, n: Int): Column =
    lower(hex(substring(payload, 1, n)))

  /** STUB decode: deterministic fake image metadata derived from the
    * payload alone. Used as the fallback branch of [[imageMeta]] for
    * payloads whose magic number is not a supported header format —
    * including the driver corpus's UTF-8 stand-in payloads, which
    * keeps the oracle for `p_multimodal_stats` purely arithmetic. */
  def imageMetaStub(payload: Column): Column = {
    val len = octet_length(payload).cast("long")
    struct(
      (len % 640 + 1).as("width"),
      ((len * 7) % 480 + 1).as("height"),
      (len % 3 + 1).as("channels"))
  }

  /** Unsigned byte at 1-based `pos` as a long (codegen: substr+hex+conv). */
  private def byteAt(payload: Column, pos: Int): Column =
    conv(hex(substring(payload, pos, 1)), 16, 10).cast("long")

  /** Big-endian u32 at 1-based `pos` (PNG/network order). */
  private def beU32(payload: Column, pos: Int): Column =
    conv(hex(substring(payload, pos, 4)), 16, 10).cast("long")

  /** Little-endian i32 at 1-based `pos` (BMP order; dims are
    * non-negative in practice — top-down BMPs with negative height
    * are out of scope for metadata stats). */
  private def leI32(payload: Column, pos: Int): Column =
    byteAt(payload, pos) +
      byteAt(payload, pos + 1) * 256L +
      byteAt(payload, pos + 2) * 65536L +
      byteAt(payload, pos + 3) * 16777216L

  /** Little-endian u16 at 1-based `pos` (BMP/GIF/WAV order). */
  private def leU16(payload: Column, pos: Int): Column =
    byteAt(payload, pos) + byteAt(payload, pos + 1) * 256L

  private def isPng(payload: Column): Column =
    octet_length(payload) >= 26 &&
      hex(substring(payload, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(payload, 13, 4)) === "49484452" // "IHDR"

  private def isBmp(payload: Column): Column =
    hex(substring(payload, 1, 2)) === "424D" && octet_length(payload) >= 30

  private def isGif(payload: Column): Column =
    octet_length(payload) >= 10 &&
      hex(substring(payload, 1, 6)).isin("474946383761", "474946383961") // GIF87a / GIF89a

  private def isWav(payload: Column): Column =
    octet_length(payload) >= 36 &&
      hex(substring(payload, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(payload, 9, 8)) === "57415645666D7420" // "WAVEfmt "

  /** JPEG magic (SOI + first marker prefix). Dimensions live in a SOF
    * segment at a variable offset, so [[imageMeta]]'s JPEG branch
    * delegates to the native codegen'd segment walk
    * [[graft.functions.JpegSofDims]] (a fixed-offset substr can't
    * reach SOF, and a declarative unrolled walk blows up — see that
    * expression's scaladoc); an undecodable JPEG yields NULL dims,
    * never stub arithmetic. */
  private def isJpeg(payload: Column): Column =
    octet_length(payload) >= 4 &&
      hex(substring(payload, 1, 3)) === "FFD8FF"

  /** REAL header decode for PNG, BMP and GIF — pure Spark expressions
    * (substr/hex/conv, all codegen'd; no UDF, no codec library):
    *
    *  - PNG: 8-byte signature, then the IHDR chunk is mandatory and
    *    first (PNG spec §11.2.2), so width/height are big-endian u32
    *    at fixed offsets 17/21 and the color type byte at 26 maps to
    *    channel count (0 gray→1, 2 RGB→3, 3 palette→1 index channel,
    *    4 gray+alpha→2, 6 RGBA→4);
    *  - BMP: "BM" magic; BITMAPINFOHEADER width/height are
    *    little-endian i32 at offsets 19/23, bits-per-pixel u16 at 29
    *    → channels = bpp/8 (min 1 for 1/4-bit palette formats);
    *  - GIF: "GIF87a"/"GIF89a" magic; logical-screen width/height are
    *    little-endian u16 at offsets 7/9; palette-indexed → 1 index
    *    channel (consistent with the PNG palette mapping).
    *
    * Anything else (including this repo's UTF-8 stand-in payloads)
    * falls back to [[imageMetaStub]]. `when` branches evaluate
    * conditionally per row, so header reads never run on non-matching
    * payloads. */
  def imageMeta(payload: Column): Column = {
    val colorType = byteAt(payload, 26)
    val pngChannels =
      when(colorType === 2, 3L).when(colorType === 4, 2L)
        .when(colorType === 6, 4L).otherwise(1L)
    val bpp = leU16(payload, 29)
    val bmpChannels = greatest(floor(bpp / 8).cast("long"), lit(1L))
    when(isPng(payload),
      struct(
        beU32(payload, 17).as("width"),
        beU32(payload, 21).as("height"),
        pngChannels.as("channels")))
      .when(isBmp(payload),
        struct(
          leI32(payload, 19).as("width"),
          leI32(payload, 23).as("height"),
          bmpChannels.as("channels")))
      .when(isGif(payload),
        struct(
          leU16(payload, 7).as("width"),
          leU16(payload, 9).as("height"),
          lit(1L).as("channels")))
      .when(isJpeg(payload), {
        // native bounded SOF walk; [width, height, channels] or NULL
        val d = graft.functions.GraftFunctions.jpegSofDims(payload)
        struct(
          try_element_at(d, lit(1)).as("width"),
          try_element_at(d, lit(2)).as("height"),
          try_element_at(d, lit(3)).as("channels"))
      })
      .otherwise(imageMetaStub(payload))
  }

  /** REAL audio header decode for WAV (RIFF/WAVE with the canonical
    * "fmt " chunk first — the layout every encoder emits): channels
    * u16 at offset 23, sample rate u32 at 25, bits-per-sample u16 at
    * 35, all little-endian. Non-WAV payloads yield NULL (audio has no
    * meaningful stub arithmetic — absence is the honest answer). */
  def audioMeta(payload: Column): Column =
    when(isWav(payload),
      struct(
        leU16(payload, 23).as("channels"),
        (leU16(payload, 25) + leU16(payload, 27) * 65536L).as("sample_rate"),
        leU16(payload, 35).as("bits_per_sample")))

  /** Magic-number media classification — the dispatch column a mixed
    * media lake partitions/filters on before format-specific decode.
    * Purely the sniffers above, so it stays consistent with
    * [[imageMeta]]/[[audioMeta]] branch selection. */
  def mediaKind(payload: Column): Column =
    when(isPng(payload), "png")
      .when(isBmp(payload), "bmp")
      .when(isGif(payload), "gif")
      .when(isWav(payload), "wav")
      .when(isAvi(payload), "avi")
      .when(isJpeg(payload), "jpeg")
      .otherwise("other")

  /** REAL pixel decode for 8-bit non-interlaced PNG and baseline
    * JPEG (the JDK ImageIO reader — no external codec): raw
    * row-major channel-interleaved bytes in ONE layout regardless of
    * source format, NULL outside the supported scope — see
    * [[graft.functions.PngPixels]] / [[graft.functions.JpegPixels]]
    * for the exact contracts and the shared 64 MiB
    * decompression-bomb guard. Dispatch is by magic number, so an
    * undecodable payload of either family stays NULL instead of
    * being retried by the other decoder. */
  def imagePixels(payload: Column): Column =
    when(isPng(payload), graft.functions.GraftFunctions.pngPixels(payload))
      .when(isBmp(payload), graft.functions.GraftFunctions.bmpPixels(payload))
      .when(isGif(payload), graft.functions.GraftFunctions.gifPixels(payload))
      .when(isJpeg(payload), graft.functions.GraftFunctions.jpegPixels(payload))

  /** Per-channel pixel statistics of a PNG or JPEG payload:
    * `array<double>` [width, height, channels, mean_ch1, …] — the
    * brightness / dead-image signal, computed without materializing
    * pixels into the row ([[graft.functions.PngPixelStats]] /
    * [[graft.functions.JpegPixelStats]]). */
  def imagePixelStats(payload: Column): Column =
    when(isPng(payload), graft.functions.GraftFunctions.pngPixelStats(payload))
      .when(isBmp(payload), graft.functions.GraftFunctions.bmpPixelStats(payload))
      .when(isGif(payload), graft.functions.GraftFunctions.gifPixelStats(payload))
      .when(isJpeg(payload), graft.functions.GraftFunctions.jpegPixelStats(payload))

  /** 64-bit perceptual dHash of an image payload — decode dispatch
    * ([[imagePixels]]) + header dims ([[imageMeta]]) + the
    * [[graft.functions.ImageDHash64]] gradient hash, as one per-row
    * column. NULL for payloads outside the decodable scope (they
    * flow through, exactly like [[imagePixels]]). The decoded pixel
    * buffer lives only inside this projection's expression tree — it
    * is never materialized into the row, so nothing image-sized ever
    * rides a shuffle. */
  def imageDHash(payload: Column): Column = {
    val m = imageMeta(payload)
    // channels = −1: derive from the decoded buffer. The header's
    // channel count is WRONG for palette formats (GIF and palette
    // PNG report 1 index channel while their decoders expand to
    // RGB/RGBA) — passing it silently nulled every GIF / palette-PNG
    // dHash until r20; the buffer length is the layout authority.
    graft.functions.GraftFunctions.imageDHash64(
      imagePixels(payload),
      m.getField("width").cast("int"),
      m.getField("height").cast("int"),
      lit(-1))
  }

  /** Perceptual image NEAR-DUP pairs — the multimodal twin of
    * [[Dedup.simhashNearDupPairs]]: every unordered pair of decodable
    * images whose [[imageDHash]] fingerprints are within `maxHamming`
    * bits, found by the SAME lossless 4×16-bit pigeonhole block join
    * (a pair within Hamming ≤3 shares at least one block), the same
    * `maxBucket` flood cap and the same chunked straggler control —
    * the machinery is literally shared ([[Dedup.hammingBandPairs]]),
    * so every scale property measured on the text path (bucketed
    * join, never all-pairs, chunk-split flood blocks) carries over.
    *
    * dHash is brightness-shift- and rescale-invariant by
    * construction, so re-encoded / resized / brightness-nudged copies
    * of one image — the dominant duplicate classes in a crawled
    * multimodal corpus — land at Hamming 0–3 while unrelated images
    * scatter near 32. Undecodable payloads (NULL hash) are dropped
    * here, not paired: absence of evidence is not similarity.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b.
    * The decode frontier is spread off the file scan first (the
    * tokenize-frontier checklist — per-row image decode fused into a
    * few-file scan would run at scan parallelism). */
  def imageNearDupPairs(
      docs: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 256): DataFrame = {
    Dedup.requireHammingArgs(maxHamming, chunkSize) // before the decode job
    val sig = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs))
      .select(col(idCol).as("id"), imageDHash(col(payloadCol)).as("__dh"))
      .filter(col("__dh").isNotNull)
      .select(
        col("id") +:
          (0 until 4).map(b =>
            shiftrightunsigned(col("__dh"), 48 - 16 * b)
              .bitwiseAND(lit(0xFFFFL)).cast("int").as(s"__b$b")): _*)
      .localCheckpoint(true)
    Dedup.hammingBandPairs(sig, maxHamming, maxBucket, chunkSize)
  }

  /** Portable image fingerprint INDEX of a corpus: (id, dhash) — the
    * artifact an INCREMENTAL image-dedup pipeline persists between
    * runs (8 bytes per image vs re-decoding the whole history every
    * batch): write it as parquet, read it back, and feed it to
    * [[dedupImagesAgainstIndex]] for each new crawl increment — the
    * multimodal mirror of [[Dedup.minhashIndex]]. The hash alone
    * supports both the pigeonhole candidate join AND the xor/popcount
    * verify — historical payloads are never read again. Undecodable
    * payloads index nothing (they can never near-dup). */
  def imageHashIndex(docs: DataFrame, idCol: String, payloadCol: String): DataFrame =
    docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol).as("id"), imageDHash(col(payloadCol)).as("dhash"))
      .filter(col("dhash").isNotNull)

  /** The MATCHED-id set behind [[dedupImagesAgainstIndex]]: distinct
    * ids of `newDocs` whose dHash lands within `maxHamming` of some
    * [[imageHashIndex]] member — [[Dedup.indexNearDupIds]] for the
    * image column. The increment is decoded ONCE; the history side
    * is pre-computed 8-byte hashes (no payloads, no re-decode); the
    * candidate join is the family's (band, block) pigeonhole with
    * the history-side flood cap (`maxBucket` distinct members per
    * block — the growing side gets the cap, exactly like the text
    * index gate) and the TWO-SIDED chunk-cell expansion of
    * [[videoImageMatches]] (a probe-side flood block — near-constant
    * thumbnails in one crawl batch — spreads over chunk cells
    * instead of serializing one join task). Verify is xor/popcount
    * per candidate BEFORE the distinct.
    *
    * `excludeSameId = true` ignores index members carrying the SAME
    * id as the probe row — required when the increment contains
    * CHANGED images whose own previous version is in the index (an
    * image must not drop as a near-dup of its old self). */
  def imageNearDupIdsAgainstIndex(
      newDocs: DataFrame, idCol: String, payloadCol: String, index: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 1024,
      excludeSameId: Boolean = false): DataFrame = {
    Dedup.requireHammingArgs(maxHamming, chunkSize) // before the decode job
    val probe = newDocs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(newDocs)) // decode frontier spread
      .select(col(idCol).as("__nid"), imageDHash(col(payloadCol)).as("__dhn"))
      .filter(col("__dhn").isNotNull)
    imageIdxMatches(probe, index, maxHamming, maxBucket, chunkSize, excludeSameId)
      .select(col("__nid").as(idCol)).distinct()
  }

  /** The (increment id, index id) MATCH pairs behind
    * [[imageNearDupIdsAgainstIndex]], from a pre-computed probe of
    * (__nid, __dhn) hash rows — no decode here, so callers holding a
    * [[mediaFingerprints]] frame pay nothing twice. Returns distinct
    * (__nid, __oid). */
  private def imageIdxMatches(
      probe: DataFrame, index: DataFrame,
      maxHamming: Int, maxBucket: Int, chunkSize: Int,
      excludeSameId: Boolean): DataFrame = {
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    Dedup.requireHammingArgs(maxHamming, chunkSize)
    def blocks(h: Column): Column = array((0 until 4).map(b =>
      shiftrightunsigned(h, 48 - 16 * b)
        .bitwiseAND(lit(0xFFFFL)).cast("int")): _*)
    val pb = probe.select(col("__nid"), col("__dhn"),
      posexplode(blocks(col("__dhn"))).as(Seq("__band", "__bv")))
    val ib0 = index
      .select(col("id").as("__oid"), col("dhash").as("__dho"))
      .filter(col("__dho").isNotNull)
      .select(col("__oid"), col("__dho"),
        posexplode(blocks(col("__dho"))).as(Seq("__band", "__bv")))
    val keep = ib0.groupBy("__band", "__bv")
      .agg(countDistinct(col("__oid")).as("__ids"))
      .filter(col("__ids") <= maxBucket)
      .select(col("__band"), col("__bv"),
        ceil(col("__ids").cast("double") / lit(chunkSize)).cast("int").as("__ko"))
    val pbk = pb.join(keep, Seq("__band", "__bv"))
    val probeBlocks = pbk.groupBy("__band", "__bv")
      .agg(ceil(count(lit(1)).cast("double") / lit(chunkSize)).cast("int").as("__kn"))
    val pc = pbk.join(probeBlocks, Seq("__band", "__bv"))
      .select(col("__nid"), col("__dhn"), col("__band"), col("__bv"),
        pmod(hash(col("__nid")), col("__kn")).cast("int").as("__cn"),
        explode(sequence(lit(0), col("__ko") - 1)).as("__co"))
    val ic = ib0.join(keep, Seq("__band", "__bv"))
      .join(probeBlocks, Seq("__band", "__bv"))
      .select(col("__oid"), col("__dho"), col("__band"), col("__bv"),
        explode(sequence(lit(0), col("__kn") - 1)).as("__cn"),
        pmod(hash(col("__oid")), col("__ko")).cast("int").as("__co"))
    val cand = pc.join(ic, Seq("__band", "__bv", "__cn", "__co"))
    val scoped =
      if (excludeSameId) cand.filter(col("__oid") =!= col("__nid")) else cand
    scoped
      .filter(bit_count(col("__dhn").bitwiseXOR(col("__dho"))) <= maxHamming)
      .select(col("__nid"), col("__oid")).distinct()
  }

  /** INCREMENTAL image dedup: keep the rows of `newDocs` that are
    * NOT near-duplicates of an already-ingested catalog represented
    * only by its [[imageHashIndex]] — the multimodal
    * [[Dedup.dedupAgainstIndex]]. Intra-batch duplicates are
    * deliberately out of scope — run [[dedupImageNearDups]] on the
    * increment first, then this against history; the surviving
    * increment's [[imageHashIndex]] unions into the persisted index
    * for the next run. Undecodable payloads never match and are
    * always kept. */
  def dedupImagesAgainstIndex(
      newDocs: DataFrame, idCol: String, payloadCol: String, index: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame =
    newDocs.join(
      imageNearDupIdsAgainstIndex(newDocs, idCol, payloadCol, index,
        maxHamming, maxBucket, chunkSize),
      Seq(idCol), "left_anti")

  /** Image near-dup DEDUP output — the corpus-level multimodal twin
    * of [[Dedup.dedupNearDups]]: [[imageNearDupPairs]] →
    * [[Graph.connectedComponents]] → keep each cluster's smallest-id
    * representative, one left-anti join against the non-
    * representatives (the payload never rides a shuffle on the dedup
    * decision; undecodable payloads can't pair, so they are always
    * kept — absence of evidence is not duplication). Same scale
    * shape as the text form: pair volume is block-bounded, CC runs
    * on pair rows only, and the final anti join is id-keyed. */
  def dedupImageNearDups(
      docs: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 256): DataFrame = {
    val pairs = imageNearDupPairs(docs, idCol, payloadCol, maxHamming, maxBucket, chunkSize)
    val losers = Graph.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupImageNearDups]] with QUALITY-AWARE representative
    * selection — the multimodal [[Dedup.dedupNearDupsBest]]: keep
    * each cluster's HIGHEST-RESOLUTION member (pixel count
    * |width·height| from [[imageMeta]]; ties → smallest id) instead
    * of the smallest id. The semantic a real image-dedup pass wants:
    * dHash is exact-NN-rescale-invariant, so a thumbnail and its
    * original land in ONE cluster — min-id selection would keep
    * whichever got the lower id, this keeps the original. Same scale
    * shape: per-cluster argmax as one `min_by` aggregation over
    * clustered nodes only (groups-sized, map-side partials), payload
    * never shuffles on the decision; clustered members decoded by
    * definition (they paired), so the quality is never null for a
    * competing node. */
  def dedupImageNearDupsBest(
      docs: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 256): DataFrame = {
    val pairs = imageNearDupPairs(docs, idCol, payloadCol, maxHamming, maxBucket, chunkSize)
    val m = imageMeta(col(payloadCol))
    val quality = abs(m.getField("width") * m.getField("height"))
    val clustered = Graph.connectedComponents(pairs, "id_a", "id_b")
      .join(docs.select(col(idCol).as("node"), quality.as("__q")), "node")
    val best = clustered.filter(col("__q").isNotNull)
      .groupBy("component")
      .agg(min_by(col("node"), struct((-col("__q")).as("nq"), col("node"))).as("__best"))
    val losers = clustered.join(best, "component")
      .filter(col("node") =!= col("__best"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit gain-invariant audio fingerprint of a PCM WAV payload —
    * [[graft.functions.AudioDHash64]] (65 floor-rule energy windows
    * → envelope gradient signs). NULL for undecodable or sub-65-frame
    * payloads, which flow through unpaired. */
  def audioDHash(payload: Column): Column =
    graft.functions.GraftFunctions.audioDHash64(payload)

  /** Audio NEAR-DUP pairs — the third member of the perceptual
    * fingerprint family, through the SAME lossless 4×16-bit
    * pigeonhole block join as text simhash and image dHash
    * ([[Dedup.hammingBandPairs]] — one audited machinery, three
    * fingerprint families): every unordered pair of decodable clips
    * whose [[audioDHash]] envelopes are within `maxHamming` bits.
    * Gain-rescaled / re-normalized copies land at Hamming 0; local
    * edits (an inserted jingle, a re-mixed section) cost bits
    * proportional to the span they disturb; unrelated clips scatter
    * near 32. Output: (id_a, id_b, hamming), id_a < id_b. */
  def audioNearDupPairs(
      docs: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 256): DataFrame = {
    Dedup.requireHammingArgs(maxHamming, chunkSize) // before the decode job
    val sig = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol).as("id"), audioDHash(col(payloadCol)).as("__dh"))
      .filter(col("__dh").isNotNull)
      .select(
        col("id") +:
          (0 until 4).map(b =>
            shiftrightunsigned(col("__dh"), 48 - 16 * b)
              .bitwiseAND(lit(0xFFFFL)).cast("int").as(s"__b$b")): _*)
      .localCheckpoint(true)
    Dedup.hammingBandPairs(sig, maxHamming, maxBucket, chunkSize)
  }

  /** Video NEAR-DUP pairs by frame-aligned perceptual hashing — the
    * video column's dedup verb, composed entirely from audited
    * parts: sample every `stride`-th frame ([[videoFramePixels]] —
    * the decoder emits stills in the shared pixel layout), dHash
    * each sampled frame ([[graft.functions.ImageDHash64]] — so every
    * invariance the image path proves carries over per frame), and
    * pair videos whose sampled frames MATCH AT THE SAME INDEX:
    * n_match = |{f : dhash_a(f) = dhash_b(f)}|, emitted when
    * n_match / min(n_sampled_a, n_sampled_b) ≥ `minFrac`.
    *
    * This is the RE-ENCODE / brightness-nudge / rescale duplicate
    * class (the dominant one in crawled video) — frame-ALIGNED by
    * design; temporally shifted or trimmed copies need a
    * shift-tolerant join (e.g. hash-set overlap without the frame
    * key), which trades away the equi-join scale shape below.
    *
    * Scale shape: ONE map-side container walk per video
    * ([[graft.functions.AviFrameDHashes]] — 72 wire samples per
    * sampled frame, zero frame-buffer allocations; bit-identical to
    * `imageDHash64(videoFramePixels(p, f), …)` per frame, pinned by
    * AviSpec), then ONE (frame_idx, dhash)-keyed equi-join of
    * narrow (id, f, hash) rows + one pair-keyed count — bucketed,
    * never all-pairs. A corpus-wide constant frame (black/slate
    * intros) floods its (f, hash) bucket exactly like a flood
    * shingle; if a real catalog hits that, route this join through
    * the [[Dedup.hammingBandPairs]] chunk machinery the image path
    * uses. Undecodable/out-of-scope payloads sample no frames and
    * never pair. Output: (id_a, id_b, n_match, match_frac),
    * id_a < id_b. */
  def videoNearDupPairs(
      docs: DataFrame, idCol: String, payloadCol: String,
      stride: Int, minFrac: Double = 0.5): DataFrame = {
    require(stride > 0, s"stride=$stride must be positive")
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    val frames = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol),
        videoFrameDHashes(col(payloadCol), stride).as("__fh"))
      .filter(col("__fh").isNotNull && size(col("__fh")) > 0)
      .select(col(idCol), explode(col("__fh")).as("__e"))
      .select(col(idCol), col("__e.frame_idx").as("__f"),
        col("__e.dhash").as("__dh"))
      .localCheckpoint(true)
    val sampled = frames.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val a = frames.select(
      col(idCol).as("id_a"), col("__f"), col("__dh"))
    val b = frames.select(
      col(idCol).as("id_b"), col("__f"), col("__dh"))
    a.join(b, Seq("__f", "__dh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_match"))
      .join(sampled.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(sampled.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn("match_frac",
        col("n_match").cast("double") / least(col("__na"), col("__nb")))
      .filter(col("match_frac") >= minFrac)
      .select("id_a", "id_b", "n_match", "match_frac")
  }

  /** SHIFT-TOLERANT video near-dup pairs — the documented trade of
    * [[videoNearDupPairs]] made into its own operator: videos are
    * paired on the OVERLAP OF THEIR SAMPLED-FRAME HASH SETS, frame
    * index discarded, so trimmed intros, dropped leaders, and
    * time-shifted re-cuts — which the frame-ALIGNED form must miss
    * by design — still pair. The price is the set semantics: frame
    * ORDER no longer witnesses (a shuffled re-cut of the same frames
    * pairs at 1.0), and `n_match` counts distinct matched HASH
    * values, not frame positions.
    *
    * Semantics: H(v) = the DISTINCT dHashes of v's sampled frames
    * (every `stride`-th); n_match(a, b) = |{(x, y) ∈ H(a)×H(b) :
    * hamming(x, y) ≤ maxHamming}|, which at the default
    * maxHamming=0 is exactly |H(a) ∩ H(b)|; emit when
    * n_match / min(|H(a)|, |H(b)|) ≥ `minFrac` (containment-style:
    * a pure trim of a longer video scores 1.0). Shift tolerance is
    * MODULO THE STRIDE — sampling every s-th frame detects only
    * shifts ≡ 0 (mod s); run stride=1 when arbitrary one-frame
    * shifts matter (the sampling frontier is cheap post one-pass:
    * 72 wire samples per frame).
    *
    * Scale shape: the same one-walk [[graft.functions.AviFrameDHashes]]
    * frontier, a distinct over narrow (id, hash) rows, then a
    * hash-keyed equi-join (maxHamming=0) — or, for maxHamming>0, the
    * near-equal hash-VALUE pairs come from the one audited
    * [[Dedup.hammingBandPairs]] pigeonhole core over the DISTINCT
    * hash values (a set that grows with content diversity, not
    * corpus size) and are joined back symmetrically. Never
    * all-pairs: a unit hash shared by more than `maxBucket` items
    * (corpus-constant frames — black intros, slates) is dropped like
    * a flood shingle BEFORE matching and sizing, so a constant-frame
    * catalog cannot blow the hash-keyed join up quadratically.
    * Output: (id_a, id_b, n_match, match_frac), id_a < id_b. */
  def videoNearDupPairsShifted(
      docs: DataFrame, idCol: String, payloadCol: String,
      stride: Int, minFrac: Double = 0.5, maxHamming: Int = 0,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(stride > 0, s"stride=$stride must be positive")
    val hashes = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol),
        videoFrameDHashes(col(payloadCol), stride).as("__fh"))
      .filter(col("__fh").isNotNull && size(col("__fh")) > 0)
      .select(col(idCol), explode(col("__fh.dhash")).as("__dh"))
    hashSetOverlapPairs(hashes, idCol, minFrac, maxHamming, maxBucket, chunkSize)
  }

  /** The hash-SET overlap pair core shared by
    * [[videoNearDupPairsShifted]] and [[audioNearDupPairsShifted]]:
    * `hashed` is (idCol, __dh) rows — one per (media item, sampled
    * unit hash), duplicates allowed (a distinct is taken here).
    * Emits (id_a, id_b, n_match, match_frac) per the set semantics
    * documented on the video form. Validates BEFORE any job runs.
    *
    * Flood-hash STRAGGLER control (beyond the `maxBucket` drop): a
    * unit hash shared by n ≤ maxBucket items still emits O(n²) rows,
    * and routing them through ONE equi-join key serializes that
    * quadratic work on one task (measured at 200×: max task 7.3 s vs
    * stage median 0.72 s — AQE cannot split it because the join
    * INPUT is tiny). So the item-expansion join is CHUNKED the same
    * way [[Dedup.hammingBandPairs]] chunks flood blocks, generalized
    * to two sides: each matched hash-VALUE pair (x, y) carries the
    * chunk counts k(x) = ⌈n(x)/chunkSize⌉ and k(y); an item holding
    * x lands in chunk c = murmur3(id) mod k(x) and replicates over
    * y's k(y) cells, an item holding y symmetrically over x's k(x)
    * cells, and the join key is (x, y, cx, cy) — every (item, item,
    * x, y) combination lands in EXACTLY ONE of k(x)·k(y) cells, so a
    * flood hash's quadratic output spreads over k² independent join
    * keys. Replication is n·k = n²/chunkSize rows of narrow
    * (id, hash) data — linear in the OUTPUT it parallelizes, and the
    * k = 1 common case (n ≤ chunkSize) replicates nothing and
    * degenerates to the plain equi-join. The default maxHamming = 0
    * path short-circuits to a straight chunked SELF-join on the hash
    * value (hammingBandPairs' ordered cells, ONE shuffle —
    * A/B-measured at parity with the unchunked join at 200×, where
    * routing identity pairs through the generic two-sided expansion
    * paid an extra b-side⋈matches shuffle, ~14% wall). The media
    * family defaults chunkSize = 1024 (vs the text family's 256):
    * the same A/B measured k = 4 chunking of ~1000-member hash
    * classes costing ~8% on an already-wide stage, while 1024 holds
    * worst-case cell output at ~1M rows — floods at 10k–65k members
    * still spread over ⌈n/1024⌉² cells. Pair-set equivalence across
    * chunkings is spec-pinned (ImageNearDupSpec).
    *
    * `match_frac` is clamped to 1.0: with maxHamming > 0, n_match
    * counts matched hash-VALUE pairs from H(a)×H(b), which can
    * exceed min(|H(a)|, |H(b)|) (one hash of the smaller side can
    * near-match several of the other's); consumers read the column
    * as a [0,1] containment fraction, so the excess is capped —
    * `n_match` keeps the raw pair count. */
  private def hashSetOverlapPairs(
      hashed: DataFrame, idCol: String, minFrac: Double,
      maxHamming: Int, maxBucket: Int, chunkSize: Int): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    Dedup.requireHammingArgs(maxHamming, chunkSize) // before the decode job
    val all = hashed.distinct()
    // FLOOD-HASH cap — the family's maxBucket discipline applied to
    // the identity join: a unit hash shared by more than `maxBucket`
    // items (corpus-constant frames/segments — black intros, slates,
    // silence) carries no discriminative signal and would emit O(n²)
    // pairs through the hash-keyed join with NO bound. Such hashes
    // are dropped like flood shingles BEFORE matching AND sizing, so
    // overlap fractions stay internally consistent (set semantics
    // over the discriminative hashes); an item whose every hash is
    // flood-popular samples nothing and never pairs. Surviving
    // hashes keep their chunk count k = ⌈n/chunkSize⌉ for the
    // chunked expansion below; the table is one narrow row per
    // surviving DISTINCT hash value (bounded by content diversity,
    // not corpus size), checkpointed because both match arms and
    // both join sides fan out from it.
    val hashStats = all.groupBy("__dh")
      .agg(countDistinct(col(idCol)).as("__ids"))
      .filter(col("__ids") <= maxBucket)
      .select(col("__dh"),
        ceil(col("__ids").cast("double") / lit(chunkSize)).cast("int").as("__k"))
      .localCheckpoint(true)
    val hashes = all.join(hashStats.select("__dh"), Seq("__dh")).localCheckpoint(true)
    val sizes = hashes.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    if (maxHamming == 0) {
      // IDENTITY fast path (the default): a straight chunked
      // self-join on the hash value — the hammingBandPairs ordered-
      // cell pattern (side A covers cells (c, c..k−1), side B
      // (0..c, c); every unordered pair lands in exactly one cell,
      // diagonal cells half-filter, cross-chunk cells normalize with
      // least/greatest). ONE shuffle join, hashStats broadcasts, and
      // k = 1 (the common case) replicates nothing — measured at
      // parity with the unchunked join (A/B at 200×: 18.8 s both)
      // where the generic two-sided expansion below pays an extra
      // b-side⋈matches shuffle (~14%).
      val memb = hashes.join(hashStats, Seq("__dh"))
        .withColumn("__c", pmod(hash(col(idCol)), col("__k")).cast("int"))
      val a = memb.select(col("__dh"), col(idCol).as("id_a"),
        explode(sequence(col("__c"), col("__k") - 1)).as("__cj"),
        col("__c").as("__ci"))
      val b = memb.select(col("__dh"), col(idCol).as("id_b"),
        explode(sequence(lit(0), col("__c"))).as("__ci"),
        col("__c").as("__cj"))
      return a.join(b, Seq("__dh", "__ci", "__cj"))
        .filter(col("__ci") =!= col("__cj") || col("id_a") < col("id_b"))
        .select(
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_match"))
        .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
        .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
        .withColumn("match_frac",
          least(lit(1.0),
            col("n_match").cast("double") / least(col("__na"), col("__nb"))))
        .filter(col("match_frac") >= minFrac)
        .select("id_a", "id_b", "n_match", "match_frac")
    }
    // matched hash-VALUE pairs, each carrying BOTH sides' chunk
    // counts: identity plus near values through the pigeonhole
    // core (symmetric closure so each orientation of an unordered
    // item pair sees it)
    val ident = hashStats.select(
      col("__dh").as("__ha"), col("__dh").as("__hb"),
      col("__k").as("__ka"), col("__k").as("__kb"))
    val matches = {
        val sig = hashStats
          .select(
            col("__dh").as("id") +:
              (0 until 4).map(b =>
                shiftrightunsigned(col("__dh"), 48 - 16 * b)
                  .bitwiseAND(lit(0xFFFFL)).cast("int").as(s"__b$b")): _*)
          .localCheckpoint(true)
        val near = Dedup.hammingBandPairs(sig, maxHamming, maxBucket, chunkSize)
          .select(col("id_a").as("__ha"), col("id_b").as("__hb"))
        val sym = near.unionByName(
          near.select(col("__hb").as("__ha"), col("__ha").as("__hb")))
          .join(hashStats.select(col("__dh").as("__ha"), col("__k").as("__ka")), "__ha")
          .join(hashStats.select(col("__dh").as("__hb"), col("__k").as("__kb")), "__hb")
          .select("__ha", "__hb", "__ka", "__kb")
        ident.unionByName(sym)
      }
    // two-sided chunk-cell expansion (see the scaladoc): side A pins
    // its own chunk and replicates over B's cells, side B the
    // mirror, so the (x, y, cx, cy) equi-join sees each (item_a,
    // item_b, x, y) combination exactly once
    val a = hashes.select(col(idCol).as("id_a"), col("__dh").as("__ha"))
      .join(matches, Seq("__ha"))
      .select(col("id_a"), col("__ha"), col("__hb"),
        pmod(hash(col("id_a")), col("__ka")).cast("int").as("__ca"),
        explode(sequence(lit(0), col("__kb") - 1)).as("__cb"))
    val b = hashes.select(col(idCol).as("id_b"), col("__dh").as("__hb"))
      .join(matches, Seq("__hb"))
      .select(col("id_b"), col("__ha"), col("__hb"),
        explode(sequence(lit(0), col("__ka") - 1)).as("__ca"),
        pmod(hash(col("id_b")), col("__kb")).cast("int").as("__cb"))
    a.join(b, Seq("__ha", "__hb", "__ca", "__cb"))
      .filter(col("id_a") < col("id_b"))
      // (id_a, __ha, __hb, id_b) is unique by construction (hashes is
      // distinct per item, matches is a distinct pair set, the cell
      // construction sees each combination once), so this count IS
      // the distinct matched-hash-pair count
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_match"))
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn("match_frac",
        least(lit(1.0),
          col("n_match").cast("double") / least(col("__na"), col("__nb"))))
      .filter(col("match_frac") >= minFrac)
      .select("id_a", "id_b", "n_match", "match_frac")
  }

  /** Per-segment audio fingerprints:
    * array<struct<seg_idx:int, dhash:long>> — one [[audioDHash]]-style
    * envelope hash per fixed `segFrames`-frame slice, one decode
    * ([[graft.functions.AudioSegmentDHashes]]). */
  def audioSegmentDHashes(payload: Column, segFrames: Int): Column =
    graft.functions.GraftFunctions.audioSegmentDHashes(payload, lit(segFrames))

  /** Per-segment audio LEVEL statistics:
    * array<struct<seg_idx:int, mean_abs:double, peak:int>> — the
    * silence-trim / clipping gate signal at segment granularity, one
    * decode, segment indexes aligned with [[audioSegmentDHashes]]
    * (fixed `segFrames` rule; stats also cover the trailing partial —
    * stats need no 65-frame floor). */
  def audioSegmentStats(payload: Column, segFrames: Int): Column =
    graft.functions.GraftFunctions.audioSegmentStats(payload, lit(segFrames))

  /** SHIFT-TOLERANT audio near-dup pairs — [[videoNearDupPairsShifted]]
    * for the audio column: clips are paired on the OVERLAP OF THEIR
    * SEGMENT-HASH SETS ([[audioSegmentDHashes]], fixed `segFrames`
    * slices), so a clip whose leading k·segFrames frames were trimmed
    * — which moves EVERY window of the whole-clip envelope hash and
    * defeats [[audioNearDupPairs]] — still pairs on its surviving
    * segments. Tolerance is modulo segFrames (the video form's stride
    * caveat on the time axis); gain invariance carries per segment.
    * Same set semantics as the video form: n_match over distinct
    * matched hash values, frac against min(|H(a)|, |H(b)|)
    * (containment: a pure trim of a longer clip scores 1.0), optional
    * maxHamming through the shared pigeonhole core. Undecodable or
    * sub-65-frame payloads sample no segments and never pair.
    * Output: (id_a, id_b, n_match, match_frac), id_a < id_b. */
  def audioNearDupPairsShifted(
      docs: DataFrame, idCol: String, payloadCol: String,
      segFrames: Int, minFrac: Double = 0.5, maxHamming: Int = 0,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(segFrames >= 65, s"segFrames=$segFrames must be >= 65 (one frame per envelope window)")
    val hashes = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol),
        audioSegmentDHashes(col(payloadCol), segFrames).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col(idCol), explode(col("__sh.dhash")).as("__dh"))
    hashSetOverlapPairs(hashes, idCol, minFrac, maxHamming, maxBucket, chunkSize)
  }

  /** TIME-based segment fingerprints — [[audioSegmentDHashes]] with
    * the segment length in MILLISECONDS, frames derived per clip
    * from the decoded header rate
    * ([[graft.functions.AudioSegmentDHashesMs]]): the
    * sample-rate-tolerant fingerprint frontier. */
  def audioSegmentDHashesMs(payload: Column, ms: Int): Column =
    graft.functions.GraftFunctions.audioSegmentDHashesMs(payload, lit(ms))

  /** SAMPLE-RATE-TOLERANT audio near-dup pairs — closes the hole
    * neither [[audioNearDupPairsShifted]] nor
    * [[audioNearDupPairsOffset]] covers: a 44.1→48 kHz (or any
    * rate-converted) re-encode of a clip changes frames-per-second,
    * so FRAME-count segmentation puts different audio in every
    * segment at the two rates and no unit hash survives at ANY
    * alignment — containment reads 0, not reduced. Segmenting by
    * TIME ([[audioSegmentDHashesMs]]) makes segment k cover the same
    * span of the recording at every rate, so ideal resamples
    * fingerprint identically (bit-exactly when the derived frame
    * counts are 65-divisible — see the expression's exactness
    * contract; near-tie envelope bits otherwise, absorbed by the
    * same `minFrac` set-overlap gate every media family uses). Gain
    * invariance carries per segment as everywhere.
    *
    * Same set semantics and scale shape as the shifted form: one
    * decode per clip, narrow (id, hash) rows into the shared
    * [[hashSetOverlapPairs]] core (value-bucketed, flood-capped,
    * chunk-cell identity join — never all-pairs); n_match over
    * distinct matched hash values, frac against min(|H(a)|, |H(b)|).
    * Tolerance axes COMPOSE by construction: rate conversion is
    * handled here, segment-multiple trims by the shifted form,
    * arbitrary trims by the offset probe — one kernel, three
    * frontiers. Undecodable payloads and clips whose derived
    * segFrames falls under 65 sample no segments and never pair.
    * Output: (id_a, id_b, n_match, match_frac), id_a < id_b. */
  def audioNearDupPairsResampled(
      docs: DataFrame, idCol: String, payloadCol: String,
      msPerSeg: Int, minFrac: Double = 0.5, maxHamming: Int = 0,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(msPerSeg >= 1, s"msPerSeg=$msPerSeg must be >= 1")
    val hashes = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol),
        audioSegmentDHashesMs(col(payloadCol), msPerSeg).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col(idCol), explode(col("__sh.dhash")).as("__dh"))
    hashSetOverlapPairs(hashes, idCol, minFrac, maxHamming, maxBucket, chunkSize)
  }

  /** DEDUP OUTPUT for the sample-rate-tolerant pairs — the decision
    * [[audioNearDupPairsResampled]] feeds, same shape as
    * [[dedupAudioNearDupsShifted]]: pairs → contraction CC →
    * smallest-id representative; undecodable payloads and clips
    * whose derived segFrames falls under 65 never pair, so they are
    * always kept. */
  def dedupAudioNearDupsResampled(
      docs: DataFrame, idCol: String, payloadCol: String,
      msPerSeg: Int, minFrac: Double = 0.5, maxHamming: Int = 0,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    val pairs = audioNearDupPairsResampled(
      docs, idCol, payloadCol, msPerSeg, minFrac, maxHamming, maxBucket, chunkSize)
    val losers = Graph.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Persisted TIME-based audio fingerprint index — one row per
    * (id, DISTINCT ms-segment hash), the [[audioSegmentHashIndex]]
    * artifact for the sample-rate-tolerant axis: history persists as
    * 8-byte hash rows keyed by the same time units at every rate, so
    * a later rate-converted re-encode still probes the same keys. */
  def audioSegmentHashIndexMs(
      docs: DataFrame, idCol: String, payloadCol: String, msPerSeg: Int): DataFrame = {
    require(msPerSeg >= 1, s"msPerSeg=$msPerSeg must be >= 1")
    docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol).as("id"),
        audioSegmentDHashesMs(col(payloadCol), msPerSeg).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col("id"), explode(col("__sh.dhash")).as("dhash"))
      .distinct()
  }

  /** INCREMENTAL sample-rate-tolerant dedup vs a persisted
    * [[audioSegmentHashIndexMs]] — [[dedupAudioAgainstIndex]] for the
    * rate axis: a 16 kHz (or any rate-converted) re-encode of a clip
    * the history holds at 8 kHz drops WITHOUT re-decoding history,
    * the case the frame-count index form structurally keeps (its
    * fixed-frame segments cover different audio at the new rate).
    * Same incremental set-overlap core, flood caps, and
    * sub-65/undecodable keep semantics. */
  def dedupAudioAgainstIndexMs(
      newDocs: DataFrame, idCol: String, payloadCol: String, index: DataFrame,
      msPerSeg: Int, minFrac: Double = 0.5,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(msPerSeg >= 1, s"msPerSeg=$msPerSeg must be >= 1")
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    val probe = newDocs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(newDocs))
      .select(col(idCol).as("__nid"),
        audioSegmentDHashesMs(col(payloadCol), msPerSeg).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col("__nid"), explode(col("__sh.dhash")).as("__dh"))
      .distinct()
    newDocs.join(
      setOverlapIdsAgainstIndex(probe, index, idCol,
        minFrac, maxBucket, chunkSize, excludeSameId = false),
      Seq(idCol), "left_anti")
  }

  /** SLIDING-window audio fingerprints:
    * array<struct<offset:int, dhash:long>> — one envelope hash per
    * `segFrames`-frame window at every `hop`-th start frame, one
    * decode + one prefix-sum pass
    * ([[graft.functions.AudioSlidingDHashes]]). The probe frontier of
    * ARBITRARY-offset trim tolerance. */
  def audioSlidingDHashes(payload: Column, segFrames: Int, hop: Int): Column =
    graft.functions.GraftFunctions.audioSlidingDHashes(
      payload, lit(segFrames), lit(hop))

  /** ARBITRARY-OFFSET audio near-dup pairs — closes the documented
    * hole in [[audioNearDupPairsShifted]]: its fixed-phase
    * segmentation tolerates trims only at segFrames MULTIPLES (a
    * 37-frame trim shifts every window, NO unit hash survives,
    * containment reads 0 — not reduced). Here every clip is hashed
    * TWICE from one decode frontier: as a single-phase CATALOG
    * (full `segFrames` segments at offsets k·segFrames — unchanged
    * index-side semantics, so the per-clip fingerprint footprint a
    * catalog persists stays [[audioSegmentHashIndex]]-sized) and as
    * a DENSE PROBE ([[audioSlidingDHashes]], a window at every
    * `hop`-th start frame). A probe window starting at p matches
    * catalog segment k of another clip iff the underlying samples
    * align exactly (gain aside) — and with hop = 1 (the default)
    * such a p EXISTS for EVERY trim offset t: p = k·segFrames − t.
    * hop > 1 trades probe volume for granularity (exact alignment
    * survives only for trims ≡ 0 mod hop — documented, not
    * perceptual hand-waving: the 65-window envelope is far too fine
    * for partial-alignment credit).
    *
    * Matches GROUP BY THE IMPLIED ALIGNMENT: each matched (p, k)
    * pair votes for offset φ = k·segFrames − p ("the probe's frame 0
    * sits at catalog frame φ" — for a pure leading trim, φ IS the
    * trim length, which the output exposes for audit). Per
    * (probe, catalog, φ): n_match = aligned position matches (p
    * determines k given φ, so the count is positional, never
    * inflated by repeated hash values); match_frac = n_match /
    * min(#probe windows in φ's phase class, #catalog full segments)
    * — containment: a pure trim of a longer clip scores 1.0. Only
    * the BEST alignment per ordered (probe, catalog) pair is emitted
    * (highest frac, then n_match, then smallest φ), both
    * orientations of each unordered pair, probe ≠ catalog.
    *
    * Scale shape: ONE decode per clip (the sliding kernel; catalog
    * rows are its offsets ≡ 0 mod segFrames — trailing partial
    * segments, which full-length probe windows can never match, stay
    * out of BOTH match and denominator, keeping the fraction
    * internally consistent), prefix sums make the dense probe O(65)
    * per window, and the probe volume is the documented price:
    * ~nFrames/hop narrow (id, offset, hash) rows per clip vs
    * nFrames/segFrames single-phase — linear, never quadratic. The
    * join is hash-VALUE keyed with the family's `maxBucket` flood
    * cap (a hash in more than maxBucket catalog clips — silence —
    * drops before matching and before the CATALOG size; the probe
    * phase-class size stays the analytic window count); grouping keys are
    * (probe, catalog, φ) — output-sized. The shared hash frontier is
    * checkpointed once (both sides and both counts fan out from it).
    * Output: (probe_id, catalog_id, offset, n_match, match_frac). */
  def audioNearDupPairsOffset(
      docs: DataFrame, idCol: String, payloadCol: String,
      segFrames: Int, hop: Int = 1, minFrac: Double = 0.5,
      maxBucket: Int = 65536): DataFrame = {
    require(segFrames >= 65,
      s"segFrames=$segFrames must be >= 65 (one frame per envelope window)")
    require(hop >= 1 && segFrames % hop == 0,
      s"hop=$hop must be positive and divide segFrames=$segFrames " +
        "(the catalog phase reuses the sliding frontier's k*segFrames offsets)")
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    // NO checkpoint: at hop = 1 the per-clip hash arrays are
    // ~segFrames× the catalog fingerprint volume — pinning them
    // starves execution memory exactly when the dense join needs it
    // (measured: the 200× arm OOM'd in a partial aggregation under a
    // ~6 GB array checkpoint). The four consumers share the ONE
    // repartition exchange below via ReuseExchange and re-run only
    // the decode+prefix kernel above it, which is linear and cheap.
    val arrs = docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol).as("__pid"),
        audioSlidingDHashes(col(payloadCol), segFrames, hop).as("__sw"))
      .filter(col("__sw").isNotNull && size(col("__sw")) > 0)
    val hashes = arrs
      .select(col("__pid"), explode(col("__sw")).as("__e"))
      .select(col("__pid"), col("__e.offset").as("__p"), col("__e.dhash").as("__dh"))
    // probe phase-class sizes are ANALYTIC (offsets are contiguous
    // 0, hop, …, m by construction): #offsets ≡ r (mod segFrames) in
    // [0, m] = ⌊(m − r)/segFrames⌋ + 1 — one row per clip, no shuffle
    // of the dense rows. One row per clip broadcasts.
    val clipMeta = arrs
      .select(col("__pid"), ((size(col("__sw")) - 1) * hop).as("__m"))
    // catalog side = the probe rows at phase 0 (hop divides segFrames
    // by the require above, so every k·segFrames offset exists in the
    // sliding set) — one decode serves both sides
    val cat = hashes
      .filter(pmod(col("__p"), lit(segFrames)) === 0)
      .select(col("__pid").as("__cid"),
        (col("__p") / segFrames).cast("int").as("__k"), col("__dh"))
    // flood drop applies to MATCHING and the catalog-side size; the
    // probe phase-class denominator counts every emitted window (its
    // flood windows are real content that simply cannot testify)
    val flood = cat.groupBy("__dh")
      .agg(countDistinct(col("__cid")).as("__n"))
      .filter(col("__n") > maxBucket)
      .select("__dh")
    val catF = cat.join(flood, Seq("__dh"), "left_anti")
    val catN = catF.groupBy("__cid").agg(count(lit(1)).as("__nc"))
    // shuffle_hash: SMJ would SORT the dense probe side — the one
    // multi-hundred-million-row frame in the plan — for a join whose
    // other side is catalog-segment-sized
    prbFJoin(hashes.join(flood, Seq("__dh"), "left_anti"), catF)
      .filter(col("__pid") =!= col("__cid"))
      .withColumn("__off", col("__k") * segFrames - col("__p"))
      .groupBy("__pid", "__cid", "__off")
      .agg(count(lit(1)).as("n_match"))
      .join(clipMeta, Seq("__pid"))
      .withColumn("__r", pmod(-col("__off"), lit(segFrames)))
      .withColumn("__np", floor((col("__m") - col("__r")) / segFrames) + 1)
      .join(catN, Seq("__cid"))
      .withColumn("match_frac",
        col("n_match").cast("double") / least(col("__np"), col("__nc")))
      .filter(col("match_frac") >= minFrac)
      .groupBy("__pid", "__cid")
      .agg(max(struct(col("match_frac").as("f"), col("n_match").as("m"),
        (-col("__off")).as("no"))).as("__b"))
      .select(col("__pid").as("probe_id"), col("__cid").as("catalog_id"),
        (-col("__b.no")).as("offset"), col("__b.m").as("n_match"),
        col("__b.f").as("match_frac"))
  }

  /** The dense-probe × catalog hash join of [[audioNearDupPairsOffset]],
    * hash-hinted so the probe side streams unsorted. */
  private def prbFJoin(prb: DataFrame, cat: DataFrame): DataFrame =
    prb.join(cat.hint("shuffle_hash"), Seq("__dh"))

  /** Video near-dup DEDUP output — [[dedupImageNearDups]] for the
    * video column: [[videoNearDupPairs]] (frame-aligned) →
    * [[Graph.connectedComponents]] → keep each cluster's smallest-id
    * representative; undecodable payloads can't pair and are always
    * kept. Same scale shape: the payload never rides a shuffle on
    * the dedup decision (pairs are narrow id rows, the final anti
    * join is id-keyed). Use [[videoNearDupPairsShifted]]-derived
    * pairs + the same CC manually when trims must also collapse. */
  def dedupVideoNearDups(
      docs: DataFrame, idCol: String, payloadCol: String,
      stride: Int, minFrac: Double = 0.5): DataFrame = {
    val pairs = videoNearDupPairs(docs, idCol, payloadCol, stride, minFrac)
    val losers = Graph.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Audio near-dup DEDUP output — [[dedupImageNearDups]] for the
    * audio column: [[audioNearDupPairs]] → CC → smallest-id
    * representative; undecodable / sub-65-frame clips always kept. */
  def dedupAudioNearDups(
      docs: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 256): DataFrame = {
    val pairs = audioNearDupPairs(docs, idCol, payloadCol, maxHamming, maxBucket, chunkSize)
    val losers = Graph.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** SHIFT-TOLERANT video dedup output — [[dedupVideoNearDups]] with
    * [[videoNearDupPairsShifted]] pairs, so trimmed intros / dropped
    * leaders / re-cuts collapse into one representative too (the
    * frame-aligned form keeps every trim by design). Pairs → CC →
    * smallest-id representative; undecodable payloads sample no
    * frames, never pair, always kept. The dedup DECISION rides only
    * narrow id rows — payloads stay out of every shuffle until the
    * final id-keyed anti join, the family's scale invariant. */
  def dedupVideoNearDupsShifted(
      docs: DataFrame, idCol: String, payloadCol: String,
      stride: Int, minFrac: Double = 0.5, maxHamming: Int = 0,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    val pairs = videoNearDupPairsShifted(
      docs, idCol, payloadCol, stride, minFrac, maxHamming, maxBucket, chunkSize)
    val losers = Graph.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** SHIFT-TOLERANT audio dedup output — [[dedupAudioNearDups]] with
    * [[audioNearDupPairsShifted]] segment-set pairs: a clip trimmed
    * by whole segments (and/or gain-rescaled) collapses onto its
    * source, which the whole-clip envelope hash misses by design.
    * Undecodable / sub-65-frame clips never pair, always kept. */
  def dedupAudioNearDupsShifted(
      docs: DataFrame, idCol: String, payloadCol: String,
      segFrames: Int, minFrac: Double = 0.5, maxHamming: Int = 0,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    val pairs = audioNearDupPairsShifted(
      docs, idCol, payloadCol, segFrames, minFrac, maxHamming, maxBucket, chunkSize)
    val losers = Graph.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** CROSS-MODAL containment search — find catalog IMAGES appearing
    * as FRAMES inside videos: (video_id, frame_idx, img_id, hamming)
    * for every sampled frame whose dHash is within `maxHamming` of a
    * catalog image's dHash. Works because the library's decoders
    * share ONE pixel layout (top-down row-major RGB — the
    * [[graft.functions.PngPixels]] contract [[videoFramePixels]]
    * honors) and both modalities fingerprint through the SAME
    * [[graft.functions.ImageDHash64]] kernel, so a still exported
    * from a frame hashes IDENTICALLY to the frame itself, and
    * re-encodes / brightness shifts / exact NN rescales of it land
    * within the Hamming band. The trust-and-safety / provenance verb:
    * "which videos contain this known image?"
    *
    * Scale shape: one-walk frame hashing per video, one decode per
    * image, then a (band, block)-keyed equi-join of the two narrow
    * hash tables — the pigeonhole guarantee (any pair within Hamming
    * ≤3 shares ≥1 of the 4 blocks) with the xor/popcount verify
    * BEFORE the distinct, so only true matches ride the dedup
    * shuffle. Never all-pairs: a (band, block) whose CATALOG-side
    * membership exceeds `maxBucket` distinct images (low-entropy
    * blocks — flat regions hash to 0x0000-style values shared by
    * half the catalog) is dropped from the probe, the same
    * documented recall trade as every maxBucket in the family (a
    * match loses recall only if ALL of its agreeing blocks are
    * flood blocks). Output distinct (video_id, frame_idx, img_id,
    * hamming), undecodable payloads on either side never match.
    *
    * PROBE-side flood blocks (a black frame repeated across the
    * corpus puts millions of frame rows in one (band, block)) are
    * handled by CHUNKING, not capping — dropping probe rows would
    * silently lose matches for exactly the frames a provenance scan
    * cares about. Both sides of the block join spread over
    * ⌈n/chunkSize⌉ chunk cells ([[hashSetOverlapPairs]]'s two-sided
    * expansion): a frame row pins chunk murmur3(vid, frame) mod k_v
    * and replicates over the block's k_i catalog cells, a catalog
    * row the mirror, join key (band, block, c_v, c_i) — each
    * (frame, image) candidate meets in EXACTLY ONE cell, so the
    * output is bit-identical to the unchunked join (spec-pinned)
    * while a flood block's quadratic verify work spreads over
    * k_v·k_i independent join keys. Block membership ≤ chunkSize
    * gives k = 1 — the common case replicates nothing. */
  def videoImageMatches(
      videos: DataFrame, vidIdCol: String, vidPayloadCol: String, stride: Int,
      images: DataFrame, imgIdCol: String, imgPayloadCol: String,
      maxHamming: Int = 3, maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(stride > 0, s"stride=$stride must be positive")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    require(maxHamming >= 0 && maxHamming <= 3, // before decode jobs
      s"maxHamming=$maxHamming outside [0,3]: 4-block pigeonhole is lossless only to 3")
    def blocks(h: Column): Column = array((0 until 4).map(b =>
      shiftrightunsigned(h, 48 - 16 * b)
        .bitwiseAND(lit(0xFFFFL)).cast("int")): _*)
    val vf = videos
      .select(col(vidIdCol), col(vidPayloadCol))
      .repartition(Dedup.pinnedParts(videos)) // decode frontier spread
      .select(col(vidIdCol),
        videoFrameDHashes(col(vidPayloadCol), stride).as("__fh"))
      .filter(col("__fh").isNotNull && size(col("__fh")) > 0)
      .select(col(vidIdCol), explode(col("__fh")).as("__e"))
      .select(col(vidIdCol), col("__e.frame_idx").as("frame_idx"),
        col("__e.dhash").as("__dhv"))
    val ih = images
      .select(col(imgIdCol), col(imgPayloadCol))
      .repartition(Dedup.pinnedParts(images))
      .select(col(imgIdCol), imageDHash(col(imgPayloadCol)).as("__dhi"))
      .filter(col("__dhi").isNotNull)
    val vb = vf.select(col(vidIdCol), col("frame_idx"), col("__dhv"),
      posexplode(blocks(col("__dhv"))).as(Seq("__band", "__bv")))
    val ib0 = ih.select(col(imgIdCol), col("__dhi"),
      posexplode(blocks(col("__dhi"))).as(Seq("__band", "__bv")))
    // flood-block cap (the family's maxBucket discipline on the
    // catalog side of the cross join), keeping each surviving
    // block's catalog-side chunk count k_i
    val keepBlocks = ib0.groupBy("__band", "__bv")
      .agg(countDistinct(col(imgIdCol)).as("__ids"))
      .filter(col("__ids") <= maxBucket)
      .select(col("__band"), col("__bv"),
        ceil(col("__ids").cast("double") / lit(chunkSize)).cast("int").as("__ki"))
    // probe-side chunk count k_v per surviving block (count of frame
    // rows — distinct (vid, frame) by construction of vb)
    val vbk = vb.join(keepBlocks, Seq("__band", "__bv"))
    val probeBlocks = vbk.groupBy("__band", "__bv")
      .agg(ceil(count(lit(1)).cast("double") / lit(chunkSize)).cast("int").as("__kv"))
    // two-sided chunk-cell expansion: probe pins c_v, covers the
    // block's k_i catalog cells; catalog pins c_i, covers k_v — each
    // candidate meets in exactly one (band, bv, __cv, __ci) cell
    val vc = vbk.join(probeBlocks, Seq("__band", "__bv"))
      .select(col(vidIdCol), col("frame_idx"), col("__dhv"),
        col("__band"), col("__bv"),
        pmod(hash(col(vidIdCol), col("frame_idx")), col("__kv")).cast("int").as("__cv"),
        explode(sequence(lit(0), col("__ki") - 1)).as("__ci"))
    val ic = ib0.join(keepBlocks, Seq("__band", "__bv"))
      .join(probeBlocks, Seq("__band", "__bv"))
      .select(col(imgIdCol), col("__dhi"), col("__band"), col("__bv"),
        explode(sequence(lit(0), col("__kv") - 1)).as("__cv"),
        pmod(hash(col(imgIdCol)), col("__ki")).cast("int").as("__ci"))
    vc.join(ic, Seq("__band", "__bv", "__cv", "__ci"))
      .withColumn("hamming",
        bit_count(col("__dhv").bitwiseXOR(col("__dhi"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col(vidIdCol), col("frame_idx"), col(imgIdCol), col("hamming"))
      .distinct()
  }

  /** Portable VIDEO fingerprint index: one row per (id, DISTINCT
    * sampled-frame dHash) — the artifact an incremental
    * shift-tolerant video dedup persists between crawls (8 bytes per
    * distinct frame hash vs re-walking every historical container):
    * [[imageHashIndex]] generalized to the set-overlap family. Feed
    * increments to [[dedupVideosAgainstIndex]]. */
  def videoFrameHashIndex(
      docs: DataFrame, idCol: String, payloadCol: String, stride: Int): DataFrame = {
    require(stride > 0, s"stride=$stride must be positive")
    docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // container-walk frontier spread
      .select(col(idCol).as("id"),
        videoFrameDHashes(col(payloadCol), stride).as("__fh"))
      .filter(col("__fh").isNotNull && size(col("__fh")) > 0)
      .select(col("id"), explode(col("__fh.dhash")).as("dhash"))
      .distinct()
  }

  /** Portable AUDIO fingerprint index: one row per (id, DISTINCT
    * segment envelope hash) — [[videoFrameHashIndex]] for the audio
    * column. */
  def audioSegmentHashIndex(
      docs: DataFrame, idCol: String, payloadCol: String, segFrames: Int): DataFrame = {
    require(segFrames >= 65,
      s"segFrames=$segFrames must be >= 65 (one frame per envelope window)")
    docs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .select(col(idCol).as("id"),
        audioSegmentDHashes(col(payloadCol), segFrames).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col("id"), explode(col("__sh.dhash")).as("dhash"))
      .distinct()
  }

  /** The shared INCREMENTAL set-overlap matcher behind
    * [[dedupVideosAgainstIndex]]/[[dedupAudioAgainstIndex]]: `probe`
    * is the increment's (idCol, __dh) distinct hash rows (decoded
    * once), `index` a persisted (id, dhash) fingerprint table —
    * history payloads never re-read. A new item matches an index
    * member when their DISTINCT-hash overlap clears `minFrac` of
    * min(|H(new)|, |H(old)|) — the [[hashSetOverlapPairs]] semantics
    * against frozen history. Flood hashes (index membership >
    * `maxBucket` — history is the side that grows) drop before
    * matching AND sizing; survivors join through the two-sided
    * chunk-cell expansion. `excludeSameId` spares changed items from
    * matching their own previous version. Returns distinct matched
    * increment ids. */
  private def setOverlapIdsAgainstIndex(
      probe: DataFrame, index: DataFrame, idCol: String,
      minFrac: Double, maxBucket: Int, chunkSize: Int,
      excludeSameId: Boolean): DataFrame =
    setOverlapMatchesAgainstIndex(probe, index, minFrac, maxBucket, chunkSize,
      excludeSameId)
      .select(col("__nid").as(idCol)).distinct()

  /** The (increment id, index id) MATCH pairs behind
    * [[setOverlapIdsAgainstIndex]] — same semantics, both ids kept
    * (the incremental curation report's `dup_of` provenance). */
  private def setOverlapMatchesAgainstIndex(
      probe: DataFrame, index: DataFrame,
      minFrac: Double, maxBucket: Int, chunkSize: Int,
      excludeSameId: Boolean): DataFrame = {
    val idx = index
      .select(col("id").as("__oid"), col("dhash").as("__dh"))
      .filter(col("__dh").isNotNull)
      .distinct()
    val floodFree = idx.groupBy("__dh")
      .agg(countDistinct(col("__oid")).as("__ids"))
      .filter(col("__ids") <= maxBucket)
      .select("__dh")
    // anti join against the FLOOD set = inner join with survivors is
    // wrong for sizing: a probe hash ABSENT from the index is
    // discriminative (counts toward |H(new)|), it just can't match —
    // so sizing drops only the flood hashes, matching inner-joins
    val flood = idx.groupBy("__dh")
      .agg(countDistinct(col("__oid")).as("__ids"))
      .filter(col("__ids") > maxBucket)
      .select("__dh")
    val probeSized = probe.join(flood, Seq("__dh"), "left_anti").localCheckpoint(true)
    val idxF = idx.join(floodFree, Seq("__dh")).localCheckpoint(true)
    val newSizes = probeSized.groupBy("__nid").agg(count(lit(1)).as("__n_new"))
    val oldSizes = idxF.groupBy("__oid").agg(count(lit(1)).as("__n_old"))
    // two-sided chunk-cell expansion over co-occurring hashes
    val hk = probeSized.groupBy("__dh").agg(count(lit(1)).as("__np"))
      .join(idxF.groupBy("__dh").agg(count(lit(1)).as("__no")), Seq("__dh"))
      .select(col("__dh"),
        ceil(col("__np").cast("double") / lit(chunkSize)).cast("int").as("__kn"),
        ceil(col("__no").cast("double") / lit(chunkSize)).cast("int").as("__ko"))
    val px = probeSized.join(hk, Seq("__dh"))
      .select(col("__nid"), col("__dh"),
        pmod(hash(col("__nid")), col("__kn")).cast("int").as("__cn"),
        explode(sequence(lit(0), col("__ko") - 1)).as("__co"))
    val ox = idxF.join(hk, Seq("__dh"))
      .select(col("__oid"), col("__dh"),
        explode(sequence(lit(0), col("__kn") - 1)).as("__cn"),
        pmod(hash(col("__oid")), col("__ko")).cast("int").as("__co"))
    val cand = px.join(ox, Seq("__dh", "__cn", "__co"))
    val scoped =
      if (excludeSameId) cand.filter(col("__oid") =!= col("__nid")) else cand
    scoped
      .groupBy("__nid", "__oid").agg(count(lit(1)).as("__nm"))
      .join(newSizes, Seq("__nid"))
      .join(oldSizes, Seq("__oid"))
      .filter(col("__nm").cast("double") / least(col("__n_new"), col("__n_old"))
        >= minFrac)
      .select(col("__nid"), col("__oid"))
  }

  /** INCREMENTAL shift-tolerant VIDEO dedup: keep the rows of
    * `newDocs` whose sampled-frame hash sets do NOT overlap any
    * [[videoFrameHashIndex]] member at `minFrac` — the growing-corpus
    * production shape for the video column ([[Dedup.dedupAgainstIndex]]
    * / [[dedupImagesAgainstIndex]] discipline: the increment decodes
    * once, history is 8-byte hash rows). Trims, re-cuts, and
    * brightness re-encodes of historical videos drop; undecodable
    * payloads never match and are always kept. */
  def dedupVideosAgainstIndex(
      newDocs: DataFrame, idCol: String, payloadCol: String, index: DataFrame,
      stride: Int, minFrac: Double = 0.5,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(stride > 0, s"stride=$stride must be positive")
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    val probe = newDocs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(newDocs))
      .select(col(idCol).as("__nid"),
        videoFrameDHashes(col(payloadCol), stride).as("__fh"))
      .filter(col("__fh").isNotNull && size(col("__fh")) > 0)
      .select(col("__nid"), explode(col("__fh.dhash")).as("__dh"))
      .distinct()
    newDocs.join(
      setOverlapIdsAgainstIndex(probe, index, idCol,
        minFrac, maxBucket, chunkSize, excludeSameId = false),
      Seq(idCol), "left_anti")
  }

  /** INCREMENTAL shift-tolerant AUDIO dedup — [[dedupVideosAgainstIndex]]
    * for the audio column against an [[audioSegmentHashIndex]]:
    * segment-trimmed / gain-rescaled / ADPCM-re-encoded copies of
    * historical clips drop without re-decoding history. */
  def dedupAudioAgainstIndex(
      newDocs: DataFrame, idCol: String, payloadCol: String, index: DataFrame,
      segFrames: Int, minFrac: Double = 0.5,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(segFrames >= 65,
      s"segFrames=$segFrames must be >= 65 (one frame per envelope window)")
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    val probe = newDocs
      .select(col(idCol), col(payloadCol))
      .repartition(Dedup.pinnedParts(newDocs))
      .select(col(idCol).as("__nid"),
        audioSegmentDHashes(col(payloadCol), segFrames).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col("__nid"), explode(col("__sh.dhash")).as("__dh"))
      .distinct()
    newDocs.join(
      setOverlapIdsAgainstIndex(probe, index, idCol,
        minFrac, maxBucket, chunkSize, excludeSameId = false),
      Seq(idCol), "left_anti")
  }

  /** CROSS-MODAL containment search, audio edition — find catalog
    * AUDIO CLIPS appearing inside videos' PCM soundtracks:
    * (video_id, clip_id, n_match, match_frac) where match_frac is
    * the fraction of the CLIP's distinct segment hashes found among
    * the video track's segment hashes ([[videoAudioSegmentDHashes]]
    * vs [[audioSegmentDHashes]] — one kernel, so a clip cut from a
    * soundtrack at a segment boundary, at any uniform gain, hashes
    * IDENTICALLY; PCM is exact, which is why the identity join
    * suffices where the image edition needs a Hamming band).
    * Alignment is modulo segFrames, the family's stride caveat on
    * the clip's cut points.
    *
    * Scale shape: one container walk per video, one decode per clip,
    * narrow (id, hash) rows both sides. Flood hashes (silence — a
    * hash shared by more than `maxBucket` videos OR clips) drop
    * BEFORE matching and sizing, the [[hashSetOverlapPairs]] cap
    * discipline; surviving hashes join through the same TWO-SIDED
    * chunk-cell expansion, so a popular-but-sub-cap hash spreads its
    * probe×catalog product over chunk cells instead of one task.
    * Clips with no decodable segments (junk, sub-65-frame) and
    * videos without a PCM track never match. */
  def audioVideoMatches(
      videos: DataFrame, vidIdCol: String, vidPayloadCol: String,
      clips: DataFrame, clipIdCol: String, clipPayloadCol: String,
      segFrames: Int, minFrac: Double = 0.5,
      maxBucket: Int = 65536, chunkSize: Int = 1024): DataFrame = {
    require(segFrames >= 65,
      s"segFrames=$segFrames must be >= 65 (one frame per envelope window)")
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    val va = videos
      .select(col(vidIdCol), col(vidPayloadCol))
      .repartition(Dedup.pinnedParts(videos)) // container-walk frontier spread
      .select(col(vidIdCol).as("__vid"),
        videoAudioSegmentDHashes(col(vidPayloadCol), segFrames).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col("__vid"), explode(col("__sh.dhash")).as("__dh"))
      .distinct()
    val ca = clips
      .select(col(clipIdCol), col(clipPayloadCol))
      .repartition(Dedup.pinnedParts(clips)) // decode frontier spread
      .select(col(clipIdCol).as("__cid"),
        audioSegmentDHashes(col(clipPayloadCol), segFrames).as("__sh"))
      .filter(col("__sh").isNotNull && size(col("__sh")) > 0)
      .select(col("__cid"), explode(col("__sh.dhash")).as("__dh"))
    // flood cap on EITHER side, dropped before matching AND sizing
    // so containment fractions stay internally consistent
    val flood = va.groupBy("__dh").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket).select("__dh")
      .unionByName(
        ca.distinct().groupBy("__dh").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket).select("__dh"))
      .distinct()
    val vaFree = va.join(flood, Seq("__dh"), "left_anti").localCheckpoint(true)
    val caFree = ca.distinct().join(flood, Seq("__dh"), "left_anti")
      .localCheckpoint(true)
    val sizes = caFree.groupBy("__cid").agg(count(lit(1)).as("__n"))
    // per-hash chunk counts for the two-sided cell expansion — only
    // CO-OCCURRING hashes can match, so the stats table inner-joins
    val hk = vaFree.groupBy("__dh").agg(count(lit(1)).as("__nv"))
      .join(caFree.groupBy("__dh").agg(count(lit(1)).as("__nc")), Seq("__dh"))
      .select(col("__dh"),
        ceil(col("__nv").cast("double") / lit(chunkSize)).cast("int").as("__kv"),
        ceil(col("__nc").cast("double") / lit(chunkSize)).cast("int").as("__kc"))
    val vx = vaFree.join(hk, Seq("__dh"))
      .select(col("__vid"), col("__dh"),
        pmod(hash(col("__vid")), col("__kv")).cast("int").as("__cv"),
        explode(sequence(lit(0), col("__kc") - 1)).as("__cc"))
    val cx = caFree.join(hk, Seq("__dh"))
      .select(col("__cid"), col("__dh"),
        explode(sequence(lit(0), col("__kv") - 1)).as("__cv"),
        pmod(hash(col("__cid")), col("__kc")).cast("int").as("__cc"))
    vx.join(cx, Seq("__dh", "__cv", "__cc"))
      .groupBy("__vid", "__cid").agg(count(lit(1)).as("n_match"))
      .join(sizes, Seq("__cid"))
      .withColumn("match_frac", col("n_match").cast("double") / col("__n"))
      .filter(col("match_frac") >= minFrac)
      .select(col("__vid").as(vidIdCol), col("__cid").as(clipIdCol),
        col("n_match"), col("match_frac"))
  }

  /** MEDIA CURATION REPORT — the mixed-corpus DECISION LOG the text
    * family's curation reports established ([[Curation]]), for the
    * media columns: one row per input payload with
    * (id, kind, verdict, reason, dup_of). Images dedup through the
    * pigeonhole pair join (Hamming ≤ `imageMaxHamming`), videos and
    * audio through their SHIFT-TOLERANT set-overlap forms (trims and
    * re-cuts collapse), each family independently →
    * [[Graph.connectedComponents]] → smallest-id representative;
    * losers carry verdict 'drop', reason '<family>_near_dup', and
    * `dup_of` = their cluster representative (the lineage a curation
    * pass audits). Payloads that are unrecognized OR sniff as a
    * known format yet fail its decoder KEEP with reason 'undecodable'
    * (absence of evidence — the family rule, decode-derived); a
    * decodable payload too short to fingerprint keeps as 'unique'
    * like everything else that testified and matched nothing.
    * ANIMATED GIFs (n_frames > 1) dedup through the VIDEO family;
    * still GIFs as images.
    *
    * Scale shape: the three pair generators are the audited
    * banded/bucketed/chunked joins (never all-pairs), CC runs on
    * narrow pair rows only, and the payload rides exactly ONE
    * projection (the kind sniff) plus the per-family decode
    * frontiers — the dedup DECISION never shuffles payload bytes. */
  def mediaCurationReport(
      docs: DataFrame, idCol: String, payloadCol: String,
      imageMaxHamming: Int = 3,
      videoStride: Int = 1, videoMinFrac: Double = 0.5,
      audioSegFrames: Int = 128, audioMinFrac: Double = 0.5): DataFrame =
    mediaCurationFromFingerprints(
      mediaFingerprints(docs, idCol, payloadCol, videoStride, audioSegFrames),
      idCol, imageMaxHamming, videoMinFrac, audioMinFrac)

  /** Per-payload media fingerprints in ONE decode pass — the shared
    * frontier of [[mediaCurationReport]] and
    * [[incrementalMediaCurationReport]]: (idCol, kind, fam, __idh,
    * __vfh, __ash) where `fam` is the DEDUP FAMILY the payload
    * routes to — 'video' for AVI and ANIMATED GIF (n_frames > 1 by
    * the [[gifAnimMeta]] directory walk — a multi-frame GIF dedups
    * as the video it is, a still GIF as an image), 'image' for
    * PNG/BMP/JPEG/still-GIF, 'audio' for WAV, 'other' for
    * unrecognized payloads — and the family's fingerprint column is
    * populated CaseWhen-lazily (an image row never walks the AVI
    * decoder). A NULL fingerprint on a recognized kind means the
    * payload SNIFFED as its format but failed to decode —
    * 'undecodable' downstream (the decode-derived reason); an EMPTY
    * array (a decodable clip too short to fingerprint) is evidence
    * of nothing and stays 'unique'. The result is checkpointed: the
    * payload never rides past this projection — three pair
    * machineries, their flood sizings, and the final assembly all
    * fan out from these narrow rows. */
  private[graft] def mediaFingerprints(
      docs: DataFrame, idCol: String, payloadCol: String,
      videoStride: Int, audioSegFrames: Int): DataFrame = {
    val p = col(payloadCol)
    docs.select(col(idCol), p)
      .repartition(Dedup.pinnedParts(docs)) // decode frontier spread
      .withColumn("kind", mediaKind(p))
      .withColumn("__gifn",
        when(col("kind") === "gif", gifAnimMeta(p).getField("n_frames")))
      .withColumn("fam",
        when(col("kind") === "avi" ||
          (col("kind") === "gif" && col("__gifn") > 1), "video")
          .when(col("kind").isin("png", "bmp", "jpeg", "gif"), "image")
          .when(col("kind") === "wav", "audio")
          .otherwise("other"))
      .withColumn("__idh", when(col("fam") === "image", imageDHash(p)))
      .withColumn("__vfh", when(col("fam") === "video",
        videoFrameDHashes(p, videoStride).getField("dhash")))
      .withColumn("__ash", when(col("fam") === "audio",
        audioSegmentDHashes(p, audioSegFrames).getField("dhash")))
      .select(col(idCol), col("kind"), col("fam"),
        col("__idh"), col("__vfh"), col("__ash"))
      .localCheckpoint(true)
  }

  /** The per-family LOSER rows of a fingerprint frame — pairs through
    * the family's audited machinery (image pigeonhole band join,
    * video/audio set overlap), CC, smallest-id representative:
    * (idCol, dup_of, __reason). Shared by the full and incremental
    * report forms (the incremental form runs it on the delta only). */
  private def mediaIntraLosers(
      fp: DataFrame, idCol: String,
      imageMaxHamming: Int, videoMinFrac: Double, audioMinFrac: Double): DataFrame = {
    def losers(pairs: DataFrame, reason: String): DataFrame =
      Graph.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as(idCol), col("component").as("dup_of"),
          lit(reason).as("__reason"))
    val imgSig = fp.filter(col("__idh").isNotNull)
      .select(
        col(idCol).as("id") +:
          (0 until 4).map(b =>
            shiftrightunsigned(col("__idh"), 48 - 16 * b)
              .bitwiseAND(lit(0xFFFFL)).cast("int").as(s"__b$b")): _*)
      .localCheckpoint(true)
    val vidHashes = fp.filter(col("__vfh").isNotNull && size(col("__vfh")) > 0)
      .select(col(idCol), explode(col("__vfh")).as("__dh"))
    val audHashes = fp.filter(col("__ash").isNotNull && size(col("__ash")) > 0)
      .select(col(idCol), explode(col("__ash")).as("__dh"))
    // The three family chains are INDEPENDENT (disjoint fingerprint
    // columns off the one checkpointed frontier) and each carries
    // EAGER work (flood-sizing checkpoints + the CC loop's rounds) —
    // overlapped instead of run strictly serially (guide §2.6 via
    // graft.util.Jobs; same pairs, same CC labels, same rows).
    val Seq(img, vid, aud) = graft.util.Jobs.concurrently(
      () => losers(Dedup.hammingBandPairs(imgSig, imageMaxHamming, 65536, 256),
        "image_near_dup"),
      () => losers(
        hashSetOverlapPairs(vidHashes, idCol, videoMinFrac, 0, 65536, 1024),
        "video_near_dup"),
      () => losers(
        hashSetOverlapPairs(audHashes, idCol, audioMinFrac, 0, 65536, 1024),
        "audio_near_dup"))
    img.unionByName(vid).unionByName(aud)
  }

  /** Assemble the curation report from a [[mediaFingerprints]] frame:
    * same pair parameters, CC and representative rule as before the
    * refactor (bit-identical decisions), with the REASON now
    * DECODE-DERIVED — 'undecodable' covers both unrecognized payloads
    * AND payloads that sniff as a known format yet fail its decoder
    * (null fingerprint); a decodable payload too short to fingerprint
    * (empty array) keeps as 'unique' (it testified: there is nothing
    * to match). */
  private def mediaCurationFromFingerprints(
      fp: DataFrame, idCol: String,
      imageMaxHamming: Int, videoMinFrac: Double, audioMinFrac: Double): DataFrame = {
    val allLosers = mediaIntraLosers(fp, idCol, imageMaxHamming, videoMinFrac, audioMinFrac)
    fp.join(allLosers, Seq(idCol), "left")
      .select(col(idCol), col("kind"),
        when(col("dup_of").isNotNull, "drop").otherwise("keep").as("verdict"),
        coalesce(col("__reason"), mediaUndecodableReason()).as("reason"),
        col("dup_of"))
  }

  /** INCREMENTAL media curation — re-curate a GROWN media corpus
    * paying only for its delta, the media twin of
    * [[Curation.incrementalReport]]: unchanged payloads (same id,
    * same bytes — one map-side [[payloadMd5]] equi-join against the
    * `payload_md5` column persisted WITH the previous report) reuse
    * run N's verdict rows VERBATIM; only the delta (added or changed
    * payloads) decodes, and it is judged against history through the
    * three persisted fingerprint indexes ([[imageHashIndex]] /
    * [[videoFrameHashIndex]] / [[audioSegmentHashIndex]]) — history
    * payloads are NEVER re-decoded.
    *
    * THE INCREMENTAL CONTRACT (the text form's, verbatim): history is
    * FROZEN — an unchanged payload keeps its old verdict even if a
    * full re-run would flip it (e.g. its duplicate partner left the
    * corpus). Delta payloads dedup (a) WITHIN the delta through the
    * same three pair machineries + CC as [[mediaCurationReport]] and
    * (b) against the indexes at the same thresholds, with SAME-ID
    * matches excluded (a changed video must not drop as a near-dup
    * of its own previous version). When both testify, the smallest
    * `dup_of` wins (deterministic provenance). Convergence to the
    * full-recompute answer is restored at the next full re-baseline.
    *
    * Output: [[mediaCurationReport]]'s columns + `reused BOOLEAN`,
    * one row per payload of `newDocs`.
    *
    * Scale shape (100 TB): the reuse decision is one narrow
    * (id, md5) equi-join — payload bytes ride only the md5
    * projection and the delta's ONE fingerprint pass; history cost
    * is index-sized (8-byte hash rows). The whole call scales with
    * |delta| + |indexes|, not |corpus|. */
  def incrementalMediaCurationReport(
      newDocs: DataFrame, idCol: String, payloadCol: String,
      oldReport: DataFrame,
      imageIndex: DataFrame, videoIndex: DataFrame, audioIndex: DataFrame,
      imageMaxHamming: Int = 3,
      videoStride: Int = 1, videoMinFrac: Double = 0.5,
      audioSegFrames: Int = 128, audioMinFrac: Double = 0.5): DataFrame = {
    val newKeys = newDocs.select(col(idCol), payloadMd5(col(payloadCol)).as("__md5"))
    val histKeys = oldReport.select(col(idCol), col("payload_md5").as("__md5"))
    val reusedIds = newKeys.join(histKeys, Seq(idCol, "__md5"), "left_semi")
      .select(idCol)
    val reusedRows = oldReport.join(reusedIds, Seq(idCol), "left_semi")
      .select(col(idCol), col("kind"), col("verdict"), col("reason"),
        col("dup_of"), lit(true).as("reused"))
    val delta = newDocs.join(reusedIds, Seq(idCol), "left_anti")
    val fp = mediaFingerprints(delta, idCol, payloadCol, videoStride, audioSegFrames)
    val imgProbe = fp.filter(col("__idh").isNotNull)
      .select(col(idCol).as("__nid"), col("__idh").as("__dhn"))
    val vidProbe = fp.filter(col("__vfh").isNotNull && size(col("__vfh")) > 0)
      .select(col(idCol).as("__nid"), explode(col("__vfh")).as("__dh"))
      .distinct()
    val audProbe = fp.filter(col("__ash").isNotNull && size(col("__ash")) > 0)
      .select(col(idCol).as("__nid"), explode(col("__ash")).as("__dh"))
      .distinct()
    // The intra-delta chains (CC rounds) and the two set-overlap
    // index matchers (flood-sizing checkpoints) are INDEPENDENT
    // eager jobs off the one checkpointed fingerprint frontier —
    // overlapped (guide §2.6 via graft.util.Jobs; same rows).
    // imageIdxMatches is fully lazy and needs no thunk.
    val Seq(intra, vidHist, audHist) = graft.util.Jobs.concurrently(
      () => mediaIntraLosers(fp, idCol, imageMaxHamming, videoMinFrac, audioMinFrac),
      () => setOverlapMatchesAgainstIndex(vidProbe, videoIndex, videoMinFrac,
        65536, 1024, excludeSameId = true)
        .withColumn("__reason", lit("video_near_dup")),
      () => setOverlapMatchesAgainstIndex(audProbe, audioIndex, audioMinFrac,
        65536, 1024, excludeSameId = true)
        .withColumn("__reason", lit("audio_near_dup")))
    val hist =
      imageIdxMatches(imgProbe, imageIndex, imageMaxHamming, 65536, 1024,
        excludeSameId = true)
        .withColumn("__reason", lit("image_near_dup"))
        .unionByName(vidHist)
        .unionByName(audHist)
        .select(col("__nid").as(idCol), col("__oid").as("dup_of"), col("__reason"))
    val allLosers = intra.unionByName(hist)
      .groupBy(idCol)
      .agg(min(struct(col("dup_of"), col("__reason"))).as("__b"))
      .select(col(idCol), col("__b.dup_of").as("dup_of"),
        col("__b.__reason").as("__reason"))
    val freshRows = fp.join(allLosers, Seq(idCol), "left")
      .select(col(idCol), col("kind"),
        when(col("dup_of").isNotNull, "drop").otherwise("keep").as("verdict"),
        coalesce(col("__reason"), mediaUndecodableReason()).as("reason"),
        col("dup_of"), lit(false).as("reused"))
    reusedRows.unionByName(freshRows)
  }

  /** CROSS-RUN media curation lineage — [[Curation.lineage]] for the
    * media report: per id across two runs, what happened to the
    * CONTENT (added / removed / changed / unchanged by
    * [[payloadMd5]]) and to the DECISION (the two runs'
    * [[mediaCurationReport]] rows side by side), with the fields
    * that flipped. Output, one row per id in either corpus:
    * (idCol, status, transition, old_verdict, new_verdict,
    * old_reason, new_reason, old_dup_of, new_dup_of, flipped) —
    * `transition` follows the text lineage vocabulary ('retired',
    * 'entered_kept'/'entered_dropped', 'still_kept',
    * 'still_dropped', 'promoted', 'demoted'); `flipped` comma-joins
    * 'reason'/'dup_of' when those fields differ between runs (ids
    * present in both corpora only). Scale shape: one md5-keyed full
    * outer join + two id-keyed report joins of narrow decision rows
    * — payloads ride only the md5 projections. */
  def mediaCurationLineage(
      oldDocs: DataFrame, newDocs: DataFrame,
      oldReport: DataFrame, newReport: DataFrame,
      idCol: String, payloadCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol), payloadMd5(col(payloadCol)).as("__om"))
    val n = newDocs.select(col(idCol), payloadMd5(col(payloadCol)).as("__nm"))
    val d = o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__om").isNull, "added")
          .when(col("__nm").isNull, "removed")
          .when(col("__om") === col("__nm"), "unchanged")
          .otherwise("changed").as("status"))
    def side(rep: DataFrame, p: String): DataFrame = rep.select(col(idCol),
      col("verdict").as(s"${p}_verdict"), col("reason").as(s"${p}_reason"),
      col("dup_of").as(s"${p}_dup_of"))
    d.join(side(oldReport, "old"), Seq(idCol), "left")
      .join(side(newReport, "new"), Seq(idCol), "left")
      .withColumn("transition",
        when(col("status") === "removed", "retired")
          .when(col("status") === "added",
            when(col("new_verdict") === "keep", "entered_kept")
              .otherwise("entered_dropped"))
          .when(col("old_verdict") === "keep" && col("new_verdict") === "keep",
            "still_kept")
          .when(col("old_verdict") === "drop" && col("new_verdict") === "drop",
            "still_dropped")
          .when(col("old_verdict") === "drop" && col("new_verdict") === "keep",
            "promoted")
          .otherwise("demoted"))
      .withColumn("flipped",
        when(col("status").isin("changed", "unchanged"),
          array_join(concat(
            when(!(col("old_reason") <=> col("new_reason")), array(lit("reason")))
              .otherwise(array().cast("array<string>")),
            when(!(col("old_dup_of") <=> col("new_dup_of")), array(lit("dup_of")))
              .otherwise(array().cast("array<string>"))), ","))
          .otherwise(lit("")))
      .select(col(idCol), col("status"), col("transition"),
        col("old_verdict"), col("new_verdict"),
        col("old_reason"), col("new_reason"),
        col("old_dup_of"), col("new_dup_of"), col("flipped"))
  }

  /** The decode-derived keep reason of a fingerprint row: columns
    * `fam`/`__idh`/`__vfh`/`__ash` must be in scope. */
  private def mediaUndecodableReason(): Column =
    when(col("fam") === "other", "undecodable")
      .when(col("fam") === "image" && col("__idh").isNull, "undecodable")
      .when(col("fam") === "video" && col("__vfh").isNull, "undecodable")
      .when(col("fam") === "audio" && col("__ash").isNull, "undecodable")
      .otherwise("unique")

  /** RIFF/AVI magic: 'RIFF' at offset 0, 'AVI ' at offset 8. */
  private def isAvi(payload: Column): Column =
    octet_length(payload) >= 24 &&
      hex(substring(payload, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(payload, 9, 4)) === "41564920" // "AVI "

  /** REAL video container metadata for uncompressed BI_RGB AVI:
    * struct<width, height, fps_num, fps_den, n_frames> (fps kept as
    * the exact strh rational; n_frames counts physical frame chunks).
    * NULL for non-AVI or out-of-scope payloads — see
    * [[graft.functions.AviDecode]]. */
  def videoMeta(payload: Column): Column =
    graft.functions.GraftFunctions.aviMeta(payload)

  /** One decoded AVI frame (0-based index) as raw top-down row-major
    * RGB bytes — byte-compatible with [[imagePixels]], so sampled
    * frames feed the same featurizers as stills. */
  def videoFramePixels(payload: Column, frameIdx: Column): Column =
    graft.functions.GraftFunctions.aviFrame(payload, frameIdx)

  /** Every `stride`-th frame's index + perceptual dHash in ONE
    * container walk (`array<struct<frame_idx:int, dhash:long>>`) —
    * the sample-and-fingerprint frontier of [[videoNearDupPairs]],
    * frame-for-frame bit-identical to
    * `imageDHash64(videoFramePixels(p, f), w, h, 3)` but 1 container
    * walk instead of 1 + n_frames/stride full decodes.
    *
    * Container dispatch by magic number: AVI (BI_RGB / MJPEG) or
    * ANIMATED GIF ([[graft.functions.GifFrameDHashes]] — composited
    * canvas frames through the SAME grid/luma/gradient kernel, so
    * the entire video near-dup family — aligned, shifted, shot-keyed,
    * incremental-vs-index, cross-modal — accepts GIF animations
    * unchanged, and a GIF re-encode of an AVI pairs with it). The
    * CaseWhen evaluates only the matched branch per row. */
  def videoFrameDHashes(payload: Column, stride: Int): Column =
    when(isAvi(payload),
      graft.functions.GraftFunctions.aviFrameDHashes(payload, lit(stride)))
      .when(isGif(payload),
        graft.functions.GraftFunctions.gifFrameDHashes(payload, lit(stride)))

  /** Animation container metadata of a GIF payload:
    * struct<width, height, n_frames> — directory walk only. The
    * "animated or still?" dispatch signal (n_frames). */
  def gifAnimMeta(payload: Column): Column =
    graft.functions.GraftFunctions.gifAnimMeta(payload)

  /** Segment envelope fingerprints of an AVI's PCM AUDIO TRACK
    * (`array<struct<seg_idx:int, dhash:long>>`) — the 'auds'-stream
    * twin of [[audioSegmentDHashes]], one container walk, same
    * kernel, so soundtrack segments hash identically to the same PCM
    * in a WAV ([[audioVideoMatches]]'s frontier). NULL when the
    * container carries no 16-bit PCM audio track. */
  def videoAudioSegmentDHashes(payload: Column, segFrames: Int): Column =
    graft.functions.GraftFunctions.aviAudioSegmentDHashes(payload, lit(segFrames))

  /** SHOT-BOUNDARY detection (scene cuts) as a pure declarative
    * expression over the one-pass frame hashes: `array<int>` of the
    * frame indices that OPEN a new shot — frame f is a boundary when
    * hamming(dHash(f−1), dHash(f)) > `maxHamming` (consecutive-frame
    * perceptual distance, the classic hard-cut detector; gradual
    * fades spread their distance over many frames and are out of
    * scope, documented). Composed entirely from codegen'd builtins
    * (`zip_with`/`filter` over two slices of the hash array — no new
    * Expression, no extra decode: one [[videoFrameDHashes]] walk at
    * stride 1). NULL for undecodable payloads; empty array for
    * single-frame or cut-free clips. The video-curation signal a
    * frame-sampling pipeline keys on (sample per shot, not per
    * stride). */
  def videoShotBoundaries(payload: Column, maxHamming: Int = 16): Column = {
    val fh = videoFrameDHashes(payload, 1)
    val n = size(fh)
    // n ≤ 1 guard BEFORE the slices: ANSI slice throws on negative
    // length (n = 0), and CaseWhen evaluates only the matched branch
    when(n <= 1, array().cast("array<int>"))
      .otherwise(filter(
        zip_with(
          slice(fh, lit(1), n - 1), slice(fh, lit(2), n - 1),
          (a, b) => when(
            bit_count(a.getField("dhash").bitwiseXOR(b.getField("dhash")))
              > maxHamming,
            b.getField("frame_idx")).otherwise(lit(-1))),
        x => x >= 0))
  }

  /** SHOT-KEYED frame sampling — the curation-grade sampling verb
    * [[videoShotBoundaries]] exists for:
    * `array<struct<shot_idx:int, frame_idx:int, dhash:long>>`, ONE
    * representative (the opening frame) per detected shot. Per-stride
    * sampling OVERSAMPLES static scenes (a 10-minute slate yields
    * thousands of near-identical samples) and undersamples fast
    * cuts; keying on shots yields exactly one fingerprint per scene
    * regardless of its duration, so a time-stretched re-cut of the
    * same scenes produces the SAME representative hash set.
    *
    * Declarative composition, no new Expression: one
    * [[videoFrameDHashes]] walk at stride 1, folded by
    * `functions.aggregate` — frame 0 opens shot 0, every frame whose
    * dHash is more than `maxHamming` bits from its predecessor opens
    * the next (the [[videoShotBoundaries]] rule, so the two verbs
    * agree by construction; spec-pinned). The hash array is
    * referenced ONCE, so the container walk runs once per row. NULL
    * for undecodable payloads; empty array for zero-frame clips. */
  def videoShotFrameDHashes(payload: Column, maxHamming: Int = 16): Column = {
    val fh = videoFrameDHashes(payload, 1)
    val repType = "array<struct<shot_idx:int,frame_idx:int,dhash:bigint>>"
    aggregate(
      fh,
      struct(lit(null).cast("bigint").as("prev"), lit(-1).as("shot"),
        array().cast(repType).as("reps")),
      (st, e) => {
        val isCut = st.getField("prev").isNull ||
          bit_count(st.getField("prev").bitwiseXOR(e.getField("dhash"))) > maxHamming
        val shot = when(isCut, st.getField("shot") + 1).otherwise(st.getField("shot"))
        struct(
          e.getField("dhash").as("prev"),
          shot.as("shot"),
          when(isCut,
            concat(st.getField("reps"), array(struct(
              shot.as("shot_idx"),
              e.getField("frame_idx").as("frame_idx"),
              e.getField("dhash").as("dhash")))))
            .otherwise(st.getField("reps")).as("reps"))
      },
      st => st.getField("reps"))
  }

  /** REAL frame sampling for AVI and animated-GIF payloads: every
    * `stride`-th frame's index + mean RGB brightness
    * (`array<struct<frame_idx, mean>>`, one decode pass, pixels never
    * materialized into the row); other payloads return NULL until a
    * codec bridge lands. */
  def frameSample(payload: Column, stride: Int): Column =
    when(isAvi(payload),
      graft.functions.GraftFunctions.aviFrameStats(payload, lit(stride)))
      .when(isGif(payload),
        graft.functions.GraftFunctions.gifFrameStats(payload, lit(stride)))

  /** Driver-side PNG ENCODER (fixture machinery, not a data path):
    * 8-bit gray / gray+alpha / RGB / RGBA, non-interlaced, one IDAT,
    * per-row filter selected by `filterOf(y)` (0..4) so round trips
    * exercise EVERY unfilter branch in [[graft.functions.PngDecode]].
    * Pure `java.util.zip` (Deflater + CRC32) — the encoder stays as
    * dependency-free as the decoder. Used to build the deterministic
    * image corpus behind the `p_png_pixel_stats` oracle query and the
    * encode→decode round-trip specs. */
  def encodePng(width: Int, height: Int, channels: Int,
      pixel: (Int, Int, Int) => Int, filterOf: Int => Int = _ => 0,
      interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(channels >= 1 && channels <= 4, s"channels=$channels")
    val colorType = channels match { case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6 }
    val stride = width * channels
    // reconstructed samples first (filter math references neighbors)
    val recon = new Array[Byte](height * stride)
    for (y <- 0 until height; x <- 0 until width; c <- 0 until channels)
      recon(y * stride + x * channels + c) = (pixel(x, y, c) & 0xFF).toByte
    pngAssemble(width, height, colorType, interlaced, Nil,
      pngFilter(recon, width, height, channels, filterOf, interlaced))
  }

  /** Driver-side PALETTE PNG ENCODER (fixture machinery): color type
    * 3 — a 1-byte index plane filtered like any scanline stream (bpp
    * = 1), PLTE from `palette`, optional per-entry tRNS `alpha`
    * (shorter than the palette ⇒ trailing entries opaque — the spec
    * default the decoder must honor). Supports the same per-row
    * filters and Adam7 interlacing as [[encodePng]]. */
  def encodePngPalette(width: Int, height: Int,
      palette: Seq[(Int, Int, Int)], index: (Int, Int) => Int,
      alpha: Seq[Int] = Nil, filterOf: Int => Int = _ => 0,
      interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(palette.nonEmpty && palette.size <= 256, s"palette size ${palette.size}")
    require(alpha.size <= palette.size, "tRNS longer than the palette")
    val recon = new Array[Byte](height * width)
    for (y <- 0 until height; x <- 0 until width) {
      val i = index(x, y)
      require(i >= 0 && i < palette.size, s"index $i out of palette at ($x,$y)")
      recon(y * width + x) = i.toByte
    }
    val plte = palette.flatMap { case (r, g, b) => Seq(r, g, b) }
      .map(v => (v & 0xFF).toByte).toArray
    val extra = Seq("PLTE" -> plte) ++
      (if (alpha.nonEmpty) Seq("tRNS" -> alpha.map(v => (v & 0xFF).toByte).toArray)
       else Nil)
    pngAssemble(width, height, 3, interlaced, extra,
      pngFilter(recon, width, height, 1, filterOf, interlaced))
  }

  /** Shared scanline filtering for the PNG encoders — plain layout or
    * Adam7 passes, each pass filtered independently. */
  private def pngFilter(recon: Array[Byte], width: Int, height: Int,
      channels: Int, filterOf: Int => Int, interlaced: Boolean): Array[Byte] = {
    val stride = width * channels
    // filter one (sub-)image pass: the plain layout is the identity
    // pass, Adam7 extracts each pass's grid sub-image and filters it
    // independently (per-pass "previous row" — the decode contract)
    def filterPass(px0: Int, py0: Int, dx: Int, dy: Int): Array[Byte] = {
      val pw = if (width > px0) (width - px0 + dx - 1) / dx else 0
      val ph = if (height > py0) (height - py0 + dy - 1) / dy else 0
      if (pw == 0 || ph == 0) return Array.emptyByteArray
      val pStride = pw * channels
      val sub = new Array[Byte](ph * pStride)
      for (py <- 0 until ph; px <- 0 until pw; c <- 0 until channels)
        sub(py * pStride + px * channels + c) =
          recon((py0 + py * dy) * stride + (px0 + px * dx) * channels + c)
      val out = new Array[Byte](ph * (1 + pStride))
      for (y <- 0 until ph) {
        val f = filterOf(y)
        require(f >= 0 && f <= 4, s"filter $f")
        out(y * (1 + pStride)) = f.toByte
        var x = 0
        while (x < pStride) {
          val cur = sub(y * pStride + x) & 0xFF
          val left = if (x >= channels) sub(y * pStride + x - channels) & 0xFF else 0
          val up = if (y > 0) sub((y - 1) * pStride + x) & 0xFF else 0
          val ul = if (y > 0 && x >= channels) sub((y - 1) * pStride + x - channels) & 0xFF else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) >> 1
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
          }
          out(y * (1 + pStride) + 1 + x) = ((cur - pred) & 0xFF).toByte
          x += 1
        }
      }
      out
    }
    val adam7 = Seq(
      (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    if (interlaced) adam7.toArray.flatMap { case (x0, y0, dx, dy) => filterPass(x0, y0, dx, dy) }
    else filterPass(0, 0, 1, 1)
  }

  /** Shared RIFF-free PNG assembly: zlib-deflate the filtered raw
    * stream and emit sig + IHDR + `extra` chunks (PLTE/tRNS, in
    * order) + IDAT + IEND with correct CRCs. */
  private def pngAssemble(width: Int, height: Int, colorType: Int,
      interlaced: Boolean, extra: Seq[(String, Array[Byte])],
      raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    val zos = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) { val n = defl.deflate(buf); zos.write(buf, 0, n) }
    } finally defl.end()
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def be32(v: Long): Unit = o.write(Array[Byte](
        (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
      be32(data.length.toLong)
      val tb = tag.getBytes("US-ASCII")
      o.write(tb); o.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      be32(crc.getValue)
      o.toByteArray
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte)
      .put((if (interlaced) 1 else 0).toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr) ++
      extra.toArray.flatMap { case (t, d) => chunk(t, d) } ++
      chunk("IDAT", zos.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** REAL PCM sample statistics for WAV payloads:
    * `[channels, sample_rate, n_frames, mean_ch…, rms_ch…]` — the
    * silence/clipping/level gate signal, decoded in one pass (see
    * [[graft.functions.WavDecode]] for scope + bomb guard). */
  def audioSampleStats(payload: Column): Column =
    graft.functions.GraftFunctions.wavSampleStats(payload)

  /** Driver-side GIF ENCODER (fixture machinery, not a data path):
    * GIF89a, one frame, 256-entry global color table, minCodeSize 8.
    * Uses the classic "uncompressed GIF" LZW form — every index
    * emitted as a 9-bit literal with a CLEAR code every 200 symbols
    * so the code width never grows — which is spec-valid output any
    * conforming decoder must accept, while keeping the fixture
    * byte-predictable. `palette(i)` gives (R,G,B) for table entry i;
    * `index(x, y)` the table index per pixel; `interlaced` stores
    * rows in the 4-pass order with the flag set. */
  def encodeGif(width: Int, height: Int,
      palette: Int => (Int, Int, Int), index: (Int, Int) => Int,
      interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(width); u16(height)
    out.write(0xF7) // global table, 8-bit color resolution, size 2^8
    out.write(0); out.write(0)
    for (i <- 0 until 256) {
      val (r, g, b) = palette(i)
      out.write(r & 0xFF); out.write(g & 0xFF); out.write(b & 0xFF)
    }
    out.write(0x2C) // image descriptor
    u16(0); u16(0); u16(width); u16(height)
    out.write(if (interlaced) 0x40 else 0x00)
    out.write(8) // LZW min code size
    // 9-bit LSB-first bit packer
    val lzw = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    def put(code: Int): Unit = {
      cur |= (code.toLong & 0x1FF) << nbits; nbits += 9
      while (nbits >= 8) { lzw.write((cur & 0xFF).toInt); cur >>= 8; nbits -= 8 }
    }
    val rows: Seq[Int] =
      if (!interlaced) 0 until height
      else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, st) => s until height by st }
    put(256) // CLEAR
    var sinceClear = 0
    for (y <- rows; x <- 0 until width) {
      if (sinceClear == 200) { put(256); sinceClear = 0 }
      put(index(x, y) & 0xFF)
      sinceClear += 1
    }
    put(257) // END
    if (nbits > 0) lzw.write((cur & 0xFF).toInt)
    // length-prefixed sub-blocks
    val bytes = lzw.toByteArray
    var off = 0
    while (off < bytes.length) {
      val n = math.min(255, bytes.length - off)
      out.write(n); out.write(bytes, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** One animation frame spec for [[encodeGifAnim]] (fixture
    * machinery): a rect at (left, top), per-pixel palette index
    * (rect-local coordinates), optional 256-entry LOCAL palette,
    * GIF89a disposal method (0–3), optional transparent index, and
    * the 4-pass interlaced row layout. */
  final case class GifFrameSpec(
      left: Int, top: Int, w: Int, h: Int,
      index: (Int, Int) => Int,
      localPalette: Option[Int => (Int, Int, Int)] = None,
      disposal: Int = 0,
      transparent: Option[Int] = None,
      interlaced: Boolean = false)

  /** Driver-side ANIMATED GIF ENCODER (fixture machinery, not a data
    * path): GIF89a, logical screen width×height with background
    * index `bgIndex` into the 256-entry global palette, one GCE +
    * image descriptor per [[GifFrameSpec]] — partial rects, local
    * palettes, transparency, disposal methods and interlacing all
    * wire-real, with [[encodeGif]]'s spec-valid uncompressed LZW
    * form, so decode oracles stay byte-predictable. */
  def encodeGifAnim(width: Int, height: Int, bgIndex: Int,
      globalPalette: Int => (Int, Int, Int),
      frames: Seq[GifFrameSpec]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(frames.nonEmpty, "at least one frame")
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(width); u16(height)
    out.write(0xF7) // global table present, size 2^8
    out.write(bgIndex & 0xFF); out.write(0)
    for (i <- 0 until 256) {
      val (r, g, b) = globalPalette(i)
      out.write(r & 0xFF); out.write(g & 0xFF); out.write(b & 0xFF)
    }
    frames.foreach { f =>
      require(f.left >= 0 && f.top >= 0 && f.left + f.w <= width &&
        f.top + f.h <= height, s"rect escapes canvas: $f")
      require(f.disposal >= 0 && f.disposal <= 3, s"disposal ${f.disposal}")
      // graphic control extension (one per frame — governs exactly it)
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write((f.disposal << 2) | (if (f.transparent.isDefined) 1 else 0))
      u16(2) // delay: 2 centiseconds
      out.write(f.transparent.getOrElse(0) & 0xFF)
      out.write(0) // GCE terminator
      out.write(0x2C) // image descriptor
      u16(f.left); u16(f.top); u16(f.w); u16(f.h)
      out.write((if (f.localPalette.isDefined) 0x87 else 0x00) |
        (if (f.interlaced) 0x40 else 0x00))
      f.localPalette.foreach { pal =>
        for (i <- 0 until 256) {
          val (r, g, b) = pal(i)
          out.write(r & 0xFF); out.write(g & 0xFF); out.write(b & 0xFF)
        }
      }
      out.write(8) // LZW min code size
      // 9-bit uncompressed LZW (CLEAR every 200 symbols), as encodeGif
      val lzw = new java.io.ByteArrayOutputStream()
      var cur = 0L; var nbits = 0
      def put(code: Int): Unit = {
        cur |= (code.toLong & 0x1FF) << nbits; nbits += 9
        while (nbits >= 8) { lzw.write((cur & 0xFF).toInt); cur >>= 8; nbits -= 8 }
      }
      val rows: Seq[Int] =
        if (!f.interlaced) 0 until f.h
        else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, st) => s until f.h by st }
      put(256)
      var sinceClear = 0
      for (y <- rows; x <- 0 until f.w) {
        if (sinceClear == 200) { put(256); sinceClear = 0 }
        put(f.index(x, y) & 0xFF)
        sinceClear += 1
      }
      put(257)
      if (nbits > 0) lzw.write((cur & 0xFF).toInt)
      val bytes = lzw.toByteArray
      var off = 0
      while (off < bytes.length) {
        val n = math.min(255, bytes.length - off)
        out.write(n); out.write(bytes, off, n)
        off += n
      }
      out.write(0) // block terminator
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** Driver-side BMP ENCODER (fixture machinery, not a data path):
    * 24-bit uncompressed BI_RGB, bottom-up (or top-down via negative
    * biHeight) 4-byte-padded BGR rows — the canonical truecolor form.
    * `pixel(x, y, c)` gives channel c ∈ {0=R, 1=G, 2=B}. */
  def encodeBmp(width: Int, height: Int,
      pixel: (Int, Int, Int) => Int, topDown: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    import java.nio.{ByteBuffer, ByteOrder}
    val wireStride = ((width * 3 + 3) / 4) * 4
    val dataLen = wireStride * height
    val b = ByteBuffer.allocate(54 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataLen).putInt(0).putInt(54) // file size, reserved, data offset
      .putInt(40).putInt(width).putInt(if (topDown) -height else height)
      .putShort(1).putShort(24).putInt(0) // planes, bitCount, BI_RGB
      .putInt(dataLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- 0 until height) {
      val row = if (topDown) y else height - 1 - y
      for (x <- 0 until width) {
        b.position(54 + row * wireStride + x * 3)
        b.put((pixel(x, y, 2) & 0xFF).toByte)
          .put((pixel(x, y, 1) & 0xFF).toByte)
          .put((pixel(x, y, 0) & 0xFF).toByte)
      }
    }
    b.array()
  }

  /** Driver-side WAV ENCODER (fixture machinery, not a data path):
    * canonical PCM 16-bit LE RIFF/WAVE — 'fmt ' + 'data', plus an
    * ignorable LIST chunk BEFORE 'data' so round trips prove the
    * decoder truly walks chunks rather than peeking fixed offsets.
    * `sample(c, t)` gives channel c of frame t, truncated to i16. */
  def encodeWav(channels: Int, sampleRate: Int, nFrames: Int,
      sample: (Int, Int) => Int): Array[Byte] = {
    require(channels >= 1 && nFrames >= 0, s"bad shape ch=$channels frames=$nFrames")
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val fmt = le(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16).array()
    val info = "INFOgraft fixture".getBytes("US-ASCII")
    val data = le(nFrames * channels * 2)
    for (t <- 0 until nFrames; c <- 0 until channels)
      data.putShort(sample(c, t).toShort)
    def chunk(tag: String, d: Array[Byte]): Array[Byte] = {
      val b = le(8 + d.length + (d.length & 1))
      b.put(tag.getBytes("US-ASCII")).putInt(d.length).put(d)
      b.array()
    }
    val body = chunk("fmt ", fmt) ++ chunk("LIST", info) ++ chunk("data", data.array())
    le(12 + body.length)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("WAVE".getBytes("US-ASCII")).put(body).array()
  }

  /** Driver-side G.711 WAV ENCODER (fixture machinery, not a data
    * path): format tag 7 (µ-law) or 6 (A-law), 8 bits per sample,
    * blockAlign = channels. `byteOf(c, t)` gives the WIRE byte
    * (0–255) of channel c at frame t directly — fixtures pin decode
    * TABLE behavior, so supplying codes (not linear samples) keeps
    * the oracle a pure per-code replay of the public expansion with
    * no encoder search anywhere. Same ignorable LIST chunk before
    * 'data' as [[encodeWav]] (the chunk-walk proof). */
  def encodeWavG711(channels: Int, sampleRate: Int, nFrames: Int,
      byteOf: (Int, Int) => Int, aLaw: Boolean = false): Array[Byte] = {
    require(channels >= 1 && nFrames >= 0, s"bad shape ch=$channels frames=$nFrames")
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val fmt = le(16)
      .putShort(if (aLaw) 6 else 7).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels)
      .putShort(channels.toShort).putShort(8).array()
    val info = "INFOgraft fixture".getBytes("US-ASCII")
    val data = new Array[Byte](nFrames * channels)
    for (t <- 0 until nFrames; c <- 0 until channels)
      data(t * channels + c) = (byteOf(c, t) & 0xFF).toByte
    def chunk(tag: String, d: Array[Byte]): Array[Byte] = {
      val b = le(8 + d.length + (d.length & 1))
      b.put(tag.getBytes("US-ASCII")).putInt(d.length).put(d)
      b.array()
    }
    val body = chunk("fmt ", fmt) ++ chunk("LIST", info) ++ chunk("data", data)
    le(12 + body.length)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("WAVE".getBytes("US-ASCII")).put(body).array()
  }

  /** Driver-side IMA-ADPCM WAV ENCODER (fixture machinery, not a
    * data path): format tag 17, 4-bit, the standard block layout —
    * per-channel (predictor, step-index) headers, nibble data in
    * interleaved 4-byte channel groups, a 'fact' chunk carrying the
    * true frame count (the final block is padded by repeating the
    * last sample; the decoder truncates to 'fact'). The quantizer
    * state machine is [[graft.functions.WavDecode.imaStep]] ITSELF —
    * encoder and decoder share one table walk, so round-trip error is
    * exactly the quantizer's, never table drift. */
  def encodeWavImaAdpcm(channels: Int, sampleRate: Int, nFrames: Int,
      sample: (Int, Int) => Int, samplesPerBlock: Int = 505): Array[Byte] = {
    require(channels >= 1 && channels <= 8 && nFrames >= 0,
      s"bad shape ch=$channels frames=$nFrames")
    require(samplesPerBlock >= 9 && (samplesPerBlock - 1) % 8 == 0,
      s"samplesPerBlock=$samplesPerBlock must be 1+8k (4-byte channel groups)")
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val spb = samplesPerBlock
    val blockAlign = 4 * channels + (spb - 1) / 2 * channels
    val fmt = le(20)
      .putShort(17).putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt((sampleRate.toLong * blockAlign / spb).toInt)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(spb.toShort).array()
    val fact = le(4).putInt(nFrames).array()
    def chunk(tag: String, d: Array[Byte]): Array[Byte] = {
      val b = le(8 + d.length + (d.length & 1))
      b.put(tag.getBytes("US-ASCII")).putInt(d.length).put(d)
      b.array()
    }
    val body = chunk("fmt ", fmt) ++ chunk("fact", fact) ++
      chunk("data", imaAdpcmBlocks(channels, nFrames, sample, spb))
    le(12 + body.length)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("WAVE".getBytes("US-ASCII")).put(body).array()
  }

  /** The IMA-ADPCM block stream of [[encodeWavImaAdpcm]], factored so
    * [[encodeAvi]]'s 'auds' track can carry the same wire bytes. */
  private def imaAdpcmBlocks(channels: Int, nFrames: Int,
      sample: (Int, Int) => Int, spb: Int): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val blockAlign = 4 * channels + (spb - 1) / 2 * channels
    val nBlocks = (nFrames + spb - 1) / spb
    def clamp16(v: Int): Int = math.max(-32768, math.min(32767, v))
    // running per-channel quantizer state carries ACROSS blocks (each
    // block header snapshots it — the standard encoder shape)
    val idx = new Array[Int](channels)
    val data = ByteBuffer.allocate(nBlocks * blockAlign).order(ByteOrder.LITTLE_ENDIAN)
    def sampleAt(c: Int, f: Int): Int = // pad by repeating the last frame
      clamp16(sample(c, math.min(f, math.max(nFrames - 1, 0))))
    for (blk <- 0 until nBlocks) {
      val f0 = blk * spb
      val pred = new Array[Int](channels)
      for (c <- 0 until channels) {
        pred(c) = sampleAt(c, f0)
        data.putShort(pred(c).toShort).put(idx(c).toByte).put(0.toByte)
      }
      val groups = (spb - 1) / 8
      for (g <- 0 until groups; c <- 0 until channels) {
        var packed = 0L
        for (s <- 0 until 8) {
          val f = f0 + 1 + g * 8 + s
          val target = sampleAt(c, f)
          // standard successive-approximation quantization
          val step = graft.functions.WavDecode.StepTable(idx(c))
          var diff = target - pred(c)
          var nib = 0
          if (diff < 0) { nib = 8; diff = -diff }
          if (diff >= step) { nib |= 4; diff -= step }
          if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
          if (diff >= (step >> 2)) { nib |= 1 }
          val st = graft.functions.WavDecode.imaStep(pred(c), idx(c), nib)
          pred(c) = (st >> 32).toInt
          idx(c) = (st & 0xFF).toInt
          packed |= nib.toLong << (4 * s)
        }
        for (byte <- 0 until 4)
          data.put(((packed >>> (8 * byte)) & 0xFF).toByte)
      }
    }
    data.array()
  }

  /** Driver-side AVI ENCODER (fixture machinery, not a data path):
    * uncompressed BI_RGB 24-bit, one 'vids' stream, frames as '00db'
    * chunks — the minimal spec-complete container
    * ('RIFF'/'hdrl'(avih + 'strl'(strh/strf))/'movi'). `pixel(f, x,
    * y, c)` gives channel c ∈ {0=R, 1=G, 2=B} of frame f; rows are
    * written bottom-up BGR with 4-byte padding (the AVI default), or
    * top-down (negative biHeight) when `topDown` — so round trips
    * exercise both row orders in [[graft.functions.AviDecode]]. Pure
    * `java.nio`, little-endian — dependency-free like [[encodePng]].
    * Used by the `p_avi_frame_stats` oracle fixtures and AviSpec. */
  def encodeAvi(width: Int, height: Int, nFrames: Int,
      pixel: (Int, Int, Int, Int) => Int,
      fpsNum: Int = 30, fpsDen: Int = 1, topDown: Boolean = false,
      audioChannels: Int = 0, audioRate: Int = 8000, audioFrames: Int = 0,
      audioSample: (Int, Int) => Int = (_, _) => 0,
      audioAdpcm: Boolean = false, audioG711ALaw: Option[Boolean] = None): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 0, s"bad shape ${width}x$height x$nFrames")
    val wireStride = ((width * 3 + 3) / 4) * 4
    val frames = (0 until nFrames).toArray.map { f =>
      val d = new Array[Byte](wireStride * height)
      for (y <- 0 until height; x <- 0 until width) {
        val row = if (topDown) y else height - 1 - y
        val o = row * wireStride + x * 3
        d(o) = (pixel(f, x, y, 2) & 0xFF).toByte // wire order is BGR
        d(o + 1) = (pixel(f, x, y, 1) & 0xFF).toByte
        d(o + 2) = (pixel(f, x, y, 0) & 0xFF).toByte
      }
      d
    }
    encodeAviWire(width, height, topDown, raw = true, frames,
      fpsNum, fpsDen, audioChannels, audioRate, audioFrames, audioSample,
      audioAdpcm, audioG711ALaw)
  }

  /** Driver-side MOTION-JPEG AVI encoder (fixture machinery): each
    * frame is a real `javax.imageio` JPEG write (explicit `quality`)
    * carried in a '00dc' chunk under biCompression 'MJPG' — the
    * compressed-legacy-AVI fixture for the [[graft.functions
    * .AviDecode.CodecMjpeg]] decode path. Same optional PCM audio
    * track as [[encodeAvi]]. JPEG output is encoder/decoder-specific
    * (IDCT rounding), so fixtures built here are SPEC material, not
    * oracle material — the documented JPEG discipline. */
  def encodeAviMjpeg(width: Int, height: Int, nFrames: Int,
      pixel: (Int, Int, Int, Int) => Int, quality: Float = 0.9f,
      fpsNum: Int = 30, fpsDen: Int = 1,
      audioChannels: Int = 0, audioRate: Int = 8000, audioFrames: Int = 0,
      audioSample: (Int, Int) => Int = (_, _) => 0): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames >= 0, s"bad shape ${width}x$height x$nFrames")
    val frames = (0 until nFrames).toArray.map { f =>
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until height; x <- 0 until width) {
        def ch(c: Int): Int = math.min(math.max(pixel(f, x, y, c), 0), 255)
        img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
      }
      val out = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      out.toByteArray
    }
    encodeAviWire(width, height, topDown = false, raw = false, frames,
      fpsNum, fpsDen, audioChannels, audioRate, audioFrames, audioSample)
  }

  /** Shared RIFF assembly for [[encodeAvi]]/[[encodeAviMjpeg]]: hdrl
    * with a vids strl (+ an auds strl when audioChannels > 0), movi
    * with the frame chunks followed by the PCM track split into TWO
    * '01wb' chunks at an ODD byte offset — deliberately, so decoder
    * tests exercise the sample-straddles-chunks carry path. */
  private def encodeAviWire(width: Int, height: Int, topDown: Boolean,
      raw: Boolean, frames: Array[Array[Byte]],
      fpsNum: Int, fpsDen: Int,
      audioChannels: Int, audioRate: Int, audioFrames: Int,
      audioSample: (Int, Int) => Int,
      audioAdpcm: Boolean = false,
      audioG711ALaw: Option[Boolean] = None): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    val wireStride = ((width * 3 + 3) / 4) * 4
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val b = le(8 + data.length + (data.length & 1))
      b.put(tag.getBytes("US-ASCII")).putInt(data.length).put(data)
      b.array() // trailing pad byte (if odd) stays 0 — RIFF even padding
    }
    def list(listType: String, subchunks: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ subchunks)
    val hasAudio = audioChannels > 0
    val nFrames = frames.length
    val avih = le(56)
      .putInt(if (fpsNum > 0) (1000000L * fpsDen / fpsNum).toInt else 0) // µs/frame
      .putInt(0).putInt(0).putInt(0)
      .putInt(nFrames).putInt(0).putInt(if (hasAudio) 2 else 1).putInt(0)
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0).array()
    val handler = if (raw) "DIB " else "MJPG"
    val strh = le(56)
      .put("vids".getBytes("US-ASCII")).put(handler.getBytes("US-ASCII"))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(fpsDen) // dwScale
      .putInt(fpsNum) // dwRate
      .putInt(0).putInt(nFrames).putInt(wireStride * height)
      .putInt(-1).putInt(0).putShort(0).putShort(0).array()
    val strf = le(40)
      .putInt(40).putInt(width).putInt(if (topDown) -height else height)
      .putShort(1).putShort(24)
    if (raw) strf.putInt(0) // BI_RGB
    else strf.put("MJPG".getBytes("US-ASCII"))
    val strfArr = strf
      .putInt(wireStride * height).putInt(0).putInt(0).putInt(0).putInt(0).array()
    val videoStrl = list("strl", chunk("strh", strh) ++ chunk("strf", strfArr))
    val frameChunks = frames.flatMap(d => chunk(if (raw) "00db" else "00dc", d))
    val (audioStrl, audioChunks) =
      if (!hasAudio) (Array.empty[Byte], Array.empty[Byte])
      else {
        val spb = 505
        val blockAlign =
          if (audioAdpcm) 4 * audioChannels + (spb - 1) / 2 * audioChannels
          else if (audioG711ALaw.isDefined) audioChannels
          else 2 * audioChannels
        val astrh = le(56)
          .put("auds".getBytes("US-ASCII")).putInt(0)
          .putInt(0).putShort(0).putShort(0).putInt(0)
          .putInt(1) // dwScale
          .putInt(audioRate) // dwRate
          .putInt(0).putInt(audioFrames).putInt(audioRate * blockAlign)
          .putInt(-1).putInt(blockAlign).putShort(0).putShort(0).array()
        val astrf =
          if (audioAdpcm)
            le(20)
              .putShort(17) // WAVE_FORMAT_IMA_ADPCM
              .putShort(audioChannels.toShort)
              .putInt(audioRate)
              .putInt((audioRate.toLong * blockAlign / spb).toInt)
              .putShort(blockAlign.toShort)
              .putShort(4)
              .putShort(2).putShort(spb.toShort).array()
          else if (audioG711ALaw.isDefined)
            le(16)
              .putShort(if (audioG711ALaw.get) 6 else 7) // WAVE_FORMAT_ALAW/MULAW
              .putShort(audioChannels.toShort)
              .putInt(audioRate)
              .putInt(audioRate * blockAlign)
              .putShort(blockAlign.toShort)
              .putShort(8).array()
          else
            le(16)
              .putShort(1) // WAVE_FORMAT_PCM
              .putShort(audioChannels.toShort)
              .putInt(audioRate)
              .putInt(audioRate * blockAlign)
              .putShort(blockAlign.toShort)
              .putShort(16).array()
        val bytes =
          if (audioAdpcm) imaAdpcmBlocks(audioChannels, audioFrames, audioSample, spb)
          else if (audioG711ALaw.isDefined) {
            // G.711: audioSample supplies the WIRE BYTE (0–255), the
            // encodeWavG711 convention — fixtures pin table decode
            val g = new Array[Byte](audioFrames * audioChannels)
            for (f <- 0 until audioFrames; c <- 0 until audioChannels)
              g(f * audioChannels + c) = (audioSample(c, f) & 0xFF).toByte
            g
          } else {
            val pcm = le(audioFrames * blockAlign)
            for (f <- 0 until audioFrames; c <- 0 until audioChannels)
              pcm.putShort(audioSample(c, f).toShort)
            pcm.array()
          }
        // split at an odd offset: a sample STRADDLES the chunk
        // boundary, pinning the decoder's carry path
        val cut = math.min(math.max(bytes.length / 2 | 1, 1), bytes.length)
        val chunks =
          if (bytes.length <= 1) chunk("01wb", bytes)
          else chunk("01wb", bytes.take(cut)) ++ chunk("01wb", bytes.drop(cut))
        (list("strl", chunk("strh", astrh) ++ chunk("strf", astrf)), chunks)
      }
    val body = list("hdrl", chunk("avih", avih) ++ videoStrl ++ audioStrl) ++
      list("movi", frameChunks ++ audioChunks)
    le(12 + body.length)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("AVI ".getBytes("US-ASCII")).put(body).array()
  }

  /** Attach the standard multimodal columns to a DataFrame. */
  def withPayloadColumns(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", payloadOf(col(textCol)))
      .withColumn("payload_len", payloadLen(col("payload")))
      .withColumn("payload_md5", payloadMd5(col("payload")))
      .withColumn("media_kind", mediaKind(col("payload")))
      .withColumn("image_meta", imageMeta(col("payload")))
      .withColumn("audio_meta", audioMeta(col("payload")))
}
