package graft

import org.apache.spark.sql.functions._

/** Round-19 pipeline queries: DEDUP OUTPUTS for the shift-tolerant
  * media pair ops (the decision surface [[PipelineQueries3]]'s
  * aligned forms got in r18), the tolerance (maxHamming>0) arm of the
  * set-overlap core, INCREMENTAL image/video/audio dedup against
  * persisted fingerprint indexes, audio-in-video containment
  * (PCM-exact both sides), video shot boundaries, the composite
  * media curation report, and IMA-ADPCM stats (the quantizer is an
  * integer state machine, so the compressed-audio path gets a FULL
  * oracle — a recursive CTE replays encode+decode per sample).
  * Oracle discipline as everywhere: DuckDB recomputes every
  * pixel/sample from the fixture formula, every hash bit, the pair
  * sets, and the recursive min-reachability closures — the Spark
  * side decodes real containers. */
object PipelineQueries4 {

  // ----------------- shift-tolerant video dedup output (corpus)
  // The decision p_video_near_dup_shifted's pairs feed: set-overlap
  // pairs → connected components → smallest-id representative, junk
  // payloads always kept. Same 12-video fixture as the pair query
  // (4 families × (original, 2-frame trim, sparse-edit)) + 2 junk
  // rows, so the two cross-check: the trims collapse onto their
  // originals (the frame-aligned p_video_dedup keeps them by
  // design), edited copies collapse only where their surviving
  // hash overlap clears the 0.5 gate.
  private val qVideoDedupShifted = Queries.Q(
    "p_video_dedup_shifted",
    Some(s"""
      WITH RECURSIVE ${OracleSql.videosShifted12()},
      ${OracleSql.gridHash("", "px", "i", "f")},
      ${OracleSql.setOverlap()},
      ${OracleSql.overlapPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      ${OracleSql.losers()}
      ${OracleSql.keptRows("video_id", "avi", 12)}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupVideoNearDupsShifted(
        (MediaFixtures.videosShifted12 ++ MediaFixtures.videoJunk(12))
          .toDF("video_id", "payload"), "video_id", "payload",
        stride = 1, minFrac = 0.5)
        .select(col("video_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "video_id"))
    })

  // ----------------- shift-tolerant audio dedup output (corpus)
  // p_audio_near_dup_shifted's fixture (4 families × (original,
  // segment-trim+gain copy, sub-segment-edited copy)) + 2 junk rows,
  // through segment-set pairs → CC → smallest-id representative: the
  // trim+gain copies the whole-clip hash misses collapse here.
  private val qAudioDedupShifted = Queries.Q(
    "p_audio_dedup_shifted",
    Some(s"""
      WITH RECURSIVE ${OracleSql.clipsShifted12()},
      ${OracleSql.envelopeHash("", "e", "i", "s")},
      ${OracleSql.setOverlap()},
      ${OracleSql.overlapPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      ${OracleSql.losers()}
      ${OracleSql.keptRows("clip_id", "wav", 12)}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupAudioNearDupsShifted(
        (MediaFixtures.clipsShifted12 ++ MediaFixtures.audioJunk(12))
          .toDF("clip_id", "payload"), "clip_id", "payload",
        segFrames = 128, minFrac = 0.5)
        .select(col("clip_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "clip_id"))
    })

  // ------- shift-tolerant video near-dup, TOLERANCE arm (maxHamming=3)
  // The maxHamming>0 path of the set-overlap core — near hash-VALUE
  // pairs through the pigeonhole band join, the symmetric closure,
  // the two-sided chunk-cell expansion, and the 1.0 frac clamp — was
  // spec-gated only until r19; this oracle pins it end-to-end: same
  // 12-video fixture as p_video_near_dup_shifted, but sparse-edited
  // copies whose flipped frame hashes land within Hamming 3 of the
  // originals' now MATCH, and n_match counts ordered VALUE pairs
  // from H(a)×H(b) (so frac clamps at 1.0 where one hash near-matches
  // several). DuckDB recomputes every hash and brute-forces the
  // ≤3-Hamming value-pair counts.
  private val qVideoNearDupShiftedTol = Queries.Q(
    "p_video_near_dup_shifted_tol",
    Some(s"""
      WITH ${OracleSql.videosShifted12()},
      ${OracleSql.gridHash("", "px", "i", "f")},
      ${OracleSql.setOverlap(maxHamming = 3)}
      SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
             CAST(nm AS BIGINT) AS n_match,
             LEAST(1.0, ${OracleSql.overlapFrac}) AS match_frac
      FROM mm JOIN ns na ON na.i = mm.ia JOIN ns nb ON nb.i = mm.ib
      WHERE LEAST(1.0, ${OracleSql.overlapFrac}) >= 0.5
      ORDER BY id_a, id_b"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.videoNearDupPairsShifted(
        MediaFixtures.videosShifted12.toDF("video_id", "payload"), "video_id", "payload",
        stride = 1, minFrac = 0.5, maxHamming = 3)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // ----------------- incremental image dedup vs a persisted index
  // The growing-corpus production shape for the image column: history
  // is 6 indexed images (id 0–5, one dHash each via imageHashIndex —
  // 8 bytes per image, payloads never re-read); the increment brings
  // a brightness-shifted copy of history 0 (Hamming 0 → drop), a
  // sparse-masked variant of history 1 (Hamming ≤3 → drop), a fresh
  // noise image (keep), and junk bytes (undecodable → keep,
  // unconditionally). The oracle recomputes every grid luma, both
  // hash halves for BOTH catalogs, and the ≤3-Hamming match NOT IN.
  private val qIncrementalImageDedup = Queries.Q(
    "p_incremental_image_dedup",
    Some(s"""
      WITH ims(id, b, mode, is_new) AS (
        SELECT * FROM (VALUES
          (0, 0, 0, 0), (1, 1, 0, 0), (2, 2, 0, 0),
          (3, 3, 0, 0), (4, 4, 0, 0), (5, 5, 0, 0),
          (100, 0, 1, 1), (101, 1, 2, 1), (102, 0, 3, 1))),
      cells AS (
        SELECT id, b, mode, is_new, gx, gy,
               ((gx * 12) // 9) AS sx, ((gy * 10) // 8) AS sy
        FROM ims, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
      px AS (
        SELECT id, is_new, gx, gy, (f0 + f1 + f2) // 3 AS luma
        FROM (SELECT *,
                CASE WHEN mode = 3 THEN ((sx*7 + sy) * 3 * 73 + sx*sy) % 256
                     ELSE (sx*17 + sy*29 + b*53) % 180 + sh END AS f0,
                CASE WHEN mode = 3 THEN ((sx*7 + sy) * 8 * 73 + sx*sy) % 256
                     ELSE (sx*17 + sy*29 + 37 + b*53) % 180 + sh END AS f1,
                CASE WHEN mode = 3 THEN ((sx*7 + sy) * 13 * 73 + sx*sy) % 256
                     ELSE (sx*17 + sy*29 + 74 + b*53) % 180 + sh END AS f2
              FROM (SELECT *,
                      CASE WHEN mode = 1 THEN 40
                           WHEN mode = 2 AND (sx + sy) % 11 = 0 THEN 25
                           ELSE 0 END AS sh
                    FROM cells))),
      ${OracleSql.gridHash("", "px", "id", "is_new")},
      matched AS (
        SELECT DISTINCT n.id
        FROM hs n JOIN hs h
          ON n.is_new = 1 AND h.is_new = 0
         AND ${OracleSql.hamming("n", "h")} <= 3)
      ${OracleSql.incrementKept("img_id", "png", Seq(100, 101, 102, 103), matched = "id")}"""),
    (s, dir) => {
      def base(b: Int)(x: Int, y: Int, c: Int): Int =
        (x * 17 + y * 29 + c * 37 + b * 53) % 180
      val history: Seq[(Long, Array[Byte])] = (0 until 6).map(b =>
        (b.toLong, operators.Multimodal.encodePng(12, 10, 3, base(b), y => (y + b) % 5)))
      val increment: Seq[(Long, Array[Byte])] = Seq(
        100L -> operators.Multimodal.encodePng(12, 10, 3,
          (x, y, c) => base(0)(x, y, c) + 40), // Hamming 0 of history 0
        101L -> operators.Multimodal.encodePng(12, 10, 3,
          (x, y, c) => base(1)(x, y, c) +
            (if ((x + y) % 11 == 0) 25 else 0), // sparse mask: Hamming <=3
        y => (y + 1) % 5),
        102L -> operators.Multimodal.encodePng(12, 10, 3,
          (x, y, c) => ((x * 7 + y) * (c * 5 + 3) * 73 + x * y) % 256), // fresh
        103L -> "junk, not an image".getBytes("UTF-8"))
      import s.implicits._
      // the index round-trips through parquet — the persisted-artifact
      // contract under test, not an in-memory shortcut
      val idxDir = Queries.scratchPath(s, "graft-imgidx-oracle")
      operators.Multimodal.imageHashIndex(
        history.toDF("img_id", "payload"), "img_id", "payload")
        .write.mode("overwrite").parquet(idxDir)
      operators.Multimodal.dedupImagesAgainstIndex(
        increment.toDF("img_id", "payload"), "img_id", "payload",
        s.read.parquet(idxDir), maxHamming = 3)
        .select(col("img_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "img_id"))
    })

  // ----------------- cross-modal containment (audio inside video)
  // "Which videos contain this known audio clip?" — the AVI 'auds'
  // PCM track's segment hashes vs catalog WAV clips' segment hashes
  // through ONE envelope kernel: a clip cut from a soundtrack at a
  // segment boundary (any uniform gain) hashes identically, a
  // non-boundary cut misses (tolerance modulo segFrames), junk and
  // sub-segment clips never match. PCM is EXACT, so the oracle
  // predicts every sample of both catalogs from the formula,
  // rebuilds all 65 windows per 128-frame segment, both hash halves,
  // and the containment fractions — full-hash oracle, no spec-only
  // carve-out like the lossy-codec paths need.
  private val qAudioVideoMatches = Queries.Q(
    "p_audio_video_matches",
    Some(s"""
      WITH srcs(side, id, b, trim, nf, ch, gain) AS (
        SELECT * FROM (VALUES
          (0, 0, 0, 0, 512, 1, 1), (0, 1, 1, 0, 640, 2, 1),
          (0, 2, 2, 0, 768, 1, 1), (0, 3, 3, 0, 896, 2, 1),
          (1, 0, 0, 128, 256, 1, 1), (1, 1, 1, 128, 256, 2, 3),
          (1, 2, 2, 64, 256, 1, 1), (1, 3, 3, 384, 256, 2, 3),
          (1, 4, 9, 0, 256, 1, 1))),
      ${OracleSql.segmentWindows("", "srcs", "nf", 7, "side", "id")},
      fr AS (
        SELECT side, id, b, trim, ch, gain, unnest(generate_series(0, nf - 1)) AS f
        FROM srcs),
      cs AS (SELECT side, id, b, trim, f, gain, unnest(generate_series(0, ch - 1)) AS c
             FROM fr),
      smp AS ( -- total |amplitude| per (source, frame) over channels
        SELECT side, id, f,
               SUM(ABS(((((f + trim) * 53 + c * 17 + b * 101) % 3989) - 1994)
                       * gain)) AS aamp
        FROM cs GROUP BY side, id, f),
      ${OracleSql.segmentEnergies("", "side", "id")},
      ${OracleSql.envelopeHash("", "e", "side", "id", "s")},
      hset AS (SELECT DISTINCT side, id, lo, hi FROM hs),
      ns AS (SELECT id, COUNT(*) AS n FROM hset WHERE side = 1 GROUP BY id),
      mm AS (SELECT v.id AS vid, c.id AS cid, COUNT(*) AS nm
             FROM hset v JOIN hset c
               ON v.side = 0 AND c.side = 1 AND v.lo = c.lo AND v.hi = c.hi
             GROUP BY v.id, c.id)
      SELECT CAST(vid AS BIGINT) AS video_id, CAST(cid AS BIGINT) AS clip_id,
             CAST(nm AS BIGINT) AS n_match,
             CAST(nm AS DOUBLE) / ns.n AS match_frac
      FROM mm JOIN ns ON ns.id = mm.cid
      WHERE CAST(nm AS DOUBLE) / ns.n >= 0.5
      ORDER BY video_id, clip_id"""),
    (s, dir) => {
      def base(b: Int)(c: Int, f: Int): Int =
        (((f * 53 + c * 17 + b * 101) % 3989) - 1994)
      val videos: Seq[(Long, Array[Byte])] = (0 until 4).map { b =>
        (b.toLong, operators.Multimodal.encodeAvi(8, 6, 2,
          (f, x, y, c) => (x * 3 + y + f + c + b) % 200,
          audioChannels = 1 + b % 2, audioRate = 8000,
          audioFrames = 512 + b * 128, audioSample = base(b)))
      } ++ Seq(
        4L -> operators.Multimodal.encodeAvi(8, 6, 2,
          (f, x, y, c) => (x + y + f + c) % 200), // no audio track
        5L -> "not a video".getBytes("UTF-8"))
      val clips: Seq[(Long, Array[Byte])] = Seq(
        // segments 1-2 of video 0's track: containment 1.0
        0L -> operators.Multimodal.encodeWav(1, 8000, 256,
          (c, f) => base(0)(c, f + 128)),
        // segments 1-2 of video 1's track, gain x3: still 1.0
        1L -> operators.Multimodal.encodeWav(2, 8000, 256,
          (c, f) => base(1)(c, f + 128) * 3),
        // NON-boundary cut of video 2's track: misses (mod-segFrames)
        2L -> operators.Multimodal.encodeWav(1, 8000, 256,
          (c, f) => base(2)(c, f + 64)),
        // segments 3-4 of video 3's track, gain x3
        3L -> operators.Multimodal.encodeWav(2, 8000, 256,
          (c, f) => base(3)(c, f + 384) * 3),
        // unrelated content: no video carries it
        4L -> operators.Multimodal.encodeWav(1, 8000, 256, base(9)),
        // sub-segment and junk: never match
        5L -> operators.Multimodal.encodeWav(1, 8000, 64, base(0)),
        6L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      operators.Multimodal.audioVideoMatches(
        videos.toDF("video_id", "payload"), "video_id", "payload",
        clips.toDF("clip_id", "payload"), "clip_id", "payload",
        segFrames = 128, minFrac = 0.5)
        .transform(Queries.sortedSmall(_, "video_id", "clip_id"))
    })

  // --------- incremental shift-tolerant video dedup vs persisted index
  // The video column's growing-corpus shape: history = 4 videos whose
  // DISTINCT sampled-frame hashes persist as an 8-byte-per-hash
  // parquet index (videoFrameHashIndex); the increment brings a
  // 2-frame trim of history 0 (set containment 1.0 → drop), a
  // brightness +40 re-encode of history 1 (Hamming-0 frame hashes →
  // drop), a fresh family (keep), and junk (keep). The oracle
  // rebuilds every frame hash for BOTH catalogs from the pixel
  // formula (with the trim's content shift and the brightness shift),
  // collapses to distinct sets, and recomputes the min-normalized
  // overlap NOT IN.
  private val qIncrementalVideoDedup = Queries.Q(
    "p_incremental_video_dedup",
    Some(s"""
      WITH vids(side, id, b, w, h, nf, trim, shift) AS (
        SELECT * FROM (VALUES
          (0, 0, 0, 12, 10, 6, 0, 0),
          (0, 1, 1, 13, 11, 7, 0, 0),
          (0, 2, 2, 14, 10, 8, 0, 0),
          (0, 3, 3, 12, 11, 9, 0, 0),
          (1, 100, 0, 12, 10, 4, 2, 0),
          (1, 101, 1, 13, 11, 7, 0, 40),
          (1, 102, 7, 13, 11, 13, 0, 0))),
      fr AS (SELECT side, id, b, w, h, trim, shift,
                    unnest(generate_series(0, nf - 1)) AS f
             FROM vids),
      cells AS (
        SELECT side, id, b, (f + trim) AS cf, f, shift, gx, gy,
               ((gx * w) // 9) AS sx, ((gy * h) // 8) AS sy
        FROM fr, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
      px AS (
        SELECT side, id, f, gx, gy, (f0 + f1 + f2) // 3 AS luma
        FROM (SELECT *,
                (sx*17 + sy*29 + cf*41 + b*53) % 180 + shift AS f0,
                (sx*17 + sy*29 + 37 + cf*41 + b*53) % 180 + shift AS f1,
                (sx*17 + sy*29 + 74 + cf*41 + b*53) % 180 + shift AS f2
              FROM cells)),
      ${OracleSql.gridHash("", "px", "side", "id", "f")},
      ${OracleSql.indexMatches}
      ${OracleSql.incrementKept("video_id", "avi", Seq(100, 101, 102, 103))}"""),
    (s, dir) => {
      def pix(b: Int, shift: Int, trim: Int)(pf: Int, x: Int, y: Int, c: Int): Int =
        (x * 17 + y * 29 + c * 37 + (pf + trim) * 41 + b * 53) % 180 + shift
      val history: Seq[(Long, Array[Byte])] = (0 until 4).map { b =>
        (b.toLong, operators.Multimodal.encodeAvi(
          12 + b % 3, 10 + b % 2, 6 + b, pix(b, 0, 0), topDown = b % 2 == 1))
      }
      val increment: Seq[(Long, Array[Byte])] = Seq(
        100L -> operators.Multimodal.encodeAvi(12, 10, 4, pix(0, 0, 2)), // trim of h0
        101L -> operators.Multimodal.encodeAvi(13, 11, 7, pix(1, 40, 0),
          topDown = true), // brightness re-encode of h1
        102L -> operators.Multimodal.encodeAvi(13, 11, 13, pix(7, 0, 0)), // fresh
        103L -> "not a video".getBytes("UTF-8"))
      import s.implicits._
      val idxDir = Queries.scratchPath(s, "graft-vididx-oracle")
      operators.Multimodal.videoFrameHashIndex(
        history.toDF("video_id", "payload"), "video_id", "payload", stride = 1)
        .write.mode("overwrite").parquet(idxDir)
      operators.Multimodal.dedupVideosAgainstIndex(
        increment.toDF("video_id", "payload"), "video_id", "payload",
        s.read.parquet(idxDir), stride = 1, minFrac = 0.5)
        .select(col("video_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "video_id"))
    })

  // --------- incremental shift-tolerant audio dedup vs persisted index
  // The audio mirror: history = 3 clips indexed as distinct segment
  // hashes; the increment brings a segment-trim + gain-x3 copy of
  // history 0 (both invariances composed → drop), a fresh clip
  // (keep), a sub-segment clip and junk (keep unconditionally). The
  // oracle predicts every i16 sample with the trim shift and gain,
  // rebuilds all 65 windows per 128-frame segment, and recomputes the
  // min-normalized set overlap.
  private val qIncrementalAudioDedup = Queries.Q(
    "p_incremental_audio_dedup",
    Some(s"""
      WITH clips(side, id, b, nf, ch, trim, gain) AS (
        SELECT * FROM (VALUES
          (0, 0, 0, 640, 1, 0, 1),
          (0, 1, 1, 768, 2, 0, 1),
          (0, 2, 2, 896, 1, 0, 1),
          (1, 100, 0, 512, 1, 128, 3),
          (1, 101, 9, 640, 1, 0, 1))),
      ${OracleSql.segmentWindows("", "clips", "nf", 7, "side", "id")},
      fr AS (
        SELECT side, id, b, ch, trim, gain, unnest(generate_series(0, nf - 1)) AS f
        FROM clips),
      cs AS (SELECT side, id, b, trim, f, gain, unnest(generate_series(0, ch - 1)) AS c
             FROM fr),
      smp AS (
        SELECT side, id, f,
               SUM(ABS(((((f + trim) * 53 + c * 17 + b * 101) % 3989) - 1994)
                       * gain)) AS aamp
        FROM cs GROUP BY side, id, f),
      ${OracleSql.segmentEnergies("", "side", "id")},
      ${OracleSql.envelopeHash("", "e", "side", "id", "s")},
      ${OracleSql.indexMatches}
      ${OracleSql.incrementKept("clip_id", "wav", Seq(100, 101, 102, 103))}"""),
    (s, dir) => {
      def base(b: Int)(c: Int, f: Int): Int =
        (((f * 53 + c * 17 + b * 101) % 3989) - 1994)
      val history: Seq[(Long, Array[Byte])] = Seq(
        0L -> operators.Multimodal.encodeWav(1, 8000, 640, base(0)),
        1L -> operators.Multimodal.encodeWav(2, 8000, 768, base(1)),
        2L -> operators.Multimodal.encodeWav(1, 8000, 896, base(2)))
      val increment: Seq[(Long, Array[Byte])] = Seq(
        // segment-trim + gain x3 of history 0: both invariances → drop
        100L -> operators.Multimodal.encodeWav(1, 8000, 512,
          (c, f) => base(0)(c, f + 128) * 3),
        101L -> operators.Multimodal.encodeWav(1, 8000, 640, base(9)), // fresh
        // sub-segment (64 frames, no segment hashes) and junk: kept
        102L -> operators.Multimodal.encodeWav(1, 8000, 64, base(0)),
        103L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      val idxDir = Queries.scratchPath(s, "graft-audidx-oracle")
      operators.Multimodal.audioSegmentHashIndex(
        history.toDF("clip_id", "payload"), "clip_id", "payload", segFrames = 128)
        .write.mode("overwrite").parquet(idxDir)
      operators.Multimodal.dedupAudioAgainstIndex(
        increment.toDF("clip_id", "payload"), "clip_id", "payload",
        s.read.parquet(idxDir), segFrames = 128, minFrac = 0.5)
        .select(col("clip_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "clip_id"))
    })

  // --------------------------- Adam7 interlaced PNG decode
  // The oracle claim IS layout invariance: an Adam7 wire layout (7
  // independently-filtered passes scattered on the interlace grid)
  // must decode to the SAME pixels as the progressive layout — so the
  // oracle predicts stats and the full pixel md5 from the formula
  // with NO layout term, and the Spark side decodes real interlaced
  // containers (sizes span the empty-pass regime w,h < 8, all four
  // channel counts, cycling per-row filters within every pass).
  private val qPngInterlacedStats = Queries.Q(
    "p_png_interlaced_stats",
    Some(s"""
      WITH dims AS (SELECT i, 1 + (i*7) % 19 AS w, 1 + (i*5) % 14 AS h,
                           CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS ch
                    FROM generate_series(0, 23) t(i)),
      ys AS (SELECT i, w, h, ch, unnest(generate_series(0, h - 1)) AS y FROM dims),
      xs AS (SELECT i, w, h, ch, y, unnest(generate_series(0, w - 1)) AS x FROM ys),
      px AS (SELECT i, y, x, unnest(generate_series(0, ch - 1)) AS c FROM xs),
      v AS (SELECT i, y, x, c, (x*11 + y*23 + c*31 + i*3) % 256 AS v FROM px),
      ${OracleSql.pixelStats("v")}"""),
    (s, dir) => {
      val imgs: Seq[(Long, Array[Byte])] = (0 until 24).map { i =>
        val (w, h) = (1 + (i * 7) % 19, 1 + (i * 5) % 14)
        val ch = Seq(1, 3, 2, 4)(i % 4)
        (i.toLong, operators.Multimodal.encodePng(w, h, ch,
          (x, y, c) => (x * 11 + y * 23 + c * 31 + i * 3) % 256,
          y => (y + i) % 5, interlaced = true))
      }
      import s.implicits._
      val df = imgs.toDF("img_id", "payload")
      val stats = operators.Multimodal.imagePixelStats(col("payload"))
      df.select(
          col("img_id"),
          stats.as("__st"),
          md5(lower(hex(operators.Multimodal.imagePixels(col("payload")))))
            .as("pixel_md5"))
        .select(
          col("img_id"),
          col("__st").getItem(0).cast("long").as("width"),
          col("__st").getItem(1).cast("long").as("height"),
          col("__st").getItem(2).cast("long").as("channels"),
          posexplode(slice(col("__st"), lit(4), size(col("__st")) - 3)),
          col("pixel_md5"))
        .select(
          col("img_id"), col("width"), col("height"), col("channels"),
          col("pos").cast("long").as("channel"), col("col").as("mean_val"),
          col("pixel_md5"))
        .transform(Queries.sortedSmall(_, "img_id", "channel"))
    })

  // --------------------------- palette PNG decode (PLTE + tRNS)
  // Color-type-3 coverage: the decode claim is palette EXPANSION —
  // indexes map through PLTE to RGB, or RGBA when tRNS carries
  // per-entry alpha (trailing entries opaque, the spec default). The
  // oracle predicts the expanded channels from the palette/index
  // formulas (no wire term) and pins stats + the full pixel md5;
  // fixtures cycle per-row filters, every third image is Adam7
  // interlaced, odd images carry a 4-entry tRNS against larger
  // palettes (the opaque-tail rule on the wire).
  private val qPngPaletteStats = Queries.Q(
    "p_png_palette_stats",
    Some(s"""
      WITH dims AS (SELECT i, 1 + (i*7) % 19 AS w, 1 + (i*5) % 14 AS h,
                           3 + i % 14 AS n,
                           CASE WHEN i % 2 = 1 THEN 4 ELSE 3 END AS ch,
                           CASE WHEN i % 2 = 1 THEN LEAST(4, 3 + i % 14) ELSE 0 END AS alen
                    FROM generate_series(0, 15) t(i)),
      ys AS (SELECT i, w, h, n, ch, alen, unnest(generate_series(0, h - 1)) AS y FROM dims),
      xs AS (SELECT i, w, h, n, ch, alen, y, unnest(generate_series(0, w - 1)) AS x FROM ys),
      px AS (SELECT i, n, alen, y, x, unnest(generate_series(0, ch - 1)) AS c FROM xs),
      v AS (SELECT i, y, x, c,
                   CASE c WHEN 0 THEN (j*23 + i) % 256
                          WHEN 1 THEN (j*57 + i*3) % 256
                          WHEN 2 THEN (j*91 + i*5) % 256
                          ELSE CASE WHEN j < alen THEN (j*40 + i) % 256 ELSE 255 END
                   END AS v
            FROM (SELECT *, (x*3 + y*7 + i) % n AS j FROM px)),
      ${OracleSql.pixelStats("v")}"""),
    (s, dir) => {
      val imgs: Seq[(Long, Array[Byte])] = (0 until 16).map { i =>
        val (w, h) = (1 + (i * 7) % 19, 1 + (i * 5) % 14)
        val n = 3 + i % 14
        val pal = (0 until n).map(j =>
          ((j * 23 + i) % 256, (j * 57 + i * 3) % 256, (j * 91 + i * 5) % 256))
        val alpha =
          if (i % 2 == 1) (0 until math.min(4, n)).map(j => (j * 40 + i) % 256)
          else Seq.empty[Int]
        (i.toLong, operators.Multimodal.encodePngPalette(w, h, pal,
          (x, y) => (x * 3 + y * 7 + i) % n, alpha,
          y => (y + i) % 5, interlaced = i % 3 == 0))
      }
      import s.implicits._
      val df = imgs.toDF("img_id", "payload")
      val stats = operators.Multimodal.imagePixelStats(col("payload"))
      df.select(
          col("img_id"),
          stats.as("__st"),
          md5(lower(hex(operators.Multimodal.imagePixels(col("payload")))))
            .as("pixel_md5"))
        .select(
          col("img_id"),
          col("__st").getItem(0).cast("long").as("width"),
          col("__st").getItem(1).cast("long").as("height"),
          col("__st").getItem(2).cast("long").as("channels"),
          posexplode(slice(col("__st"), lit(4), size(col("__st")) - 3)),
          col("pixel_md5"))
        .select(
          col("img_id"), col("width"), col("height"), col("channels"),
          col("pos").cast("long").as("channel"), col("col").as("mean_val"),
          col("pixel_md5"))
        .transform(Queries.sortedSmall(_, "img_id", "channel"))
    })

  // --------------------------- per-segment audio level stats
  // The silence-trim / clipping gate at segment granularity: clip 0
  // carries a MUTED 128-frame stretch (segment 2 goes exactly
  // silent), clip 1 is stereo with a 44-frame partial tail (stats
  // cover every frame — no 65-frame floor), junk emits nothing. The
  // oracle predicts every i16 sample (with the mute window),
  // recomputes exact |amp| sums, counts, and peaks per segment, and
  // the same silent verdict.
  private val qAudioSegmentStats = Queries.Q(
    "p_audio_segment_stats",
    Some("""
      WITH clips(id, b, nf, ch, m0, m1) AS (
        SELECT * FROM (VALUES
          (0, 1, 640, 1, 256, 384),
          (1, 1, 300, 2, -1, -1))),
      segs AS (
        SELECT id, ch, s, s * 128 AS sfrom, LEAST(s * 128 + 128, nf) AS sto
        FROM clips, generate_series(0, 5) ss(s)
        WHERE s * 128 < nf),
      fr AS (SELECT id, b, ch, m0, m1, unnest(generate_series(0, nf - 1)) AS f
             FROM clips),
      cs AS (SELECT id, b, m0, m1, f, unnest(generate_series(0, ch - 1)) AS c
             FROM fr),
      smp AS (
        SELECT id, f, c,
               CASE WHEN f >= m0 AND f < m1 THEN 0
                    ELSE ABS(((f * 31 + c * 17 + b * 101) % 4001) - 2000) END AS a
        FROM cs),
      agg AS (
        SELECT segs.id, segs.s, segs.sfrom, segs.sto,
               SUM(smp.a) AS tot, MAX(smp.a) AS peak
        FROM segs JOIN smp ON smp.id = segs.id
                          AND smp.f >= segs.sfrom AND smp.f < segs.sto
        GROUP BY segs.id, segs.s, segs.sfrom, segs.sto)
      SELECT CAST(agg.id AS BIGINT) AS clip_id, CAST(s AS INT) AS seg_idx,
             CAST(tot AS DOUBLE) / ((sto - sfrom) * c2.ch) AS mean_abs,
             CAST(peak AS INT) AS peak,
             (CAST(tot AS DOUBLE) / ((sto - sfrom) * c2.ch)) < 1.0 AS silent
      FROM agg JOIN clips c2 ON c2.id = agg.id
      ORDER BY clip_id, seg_idx"""),
    (s, dir) => {
      val clips: Seq[(Long, Array[Byte])] = Seq(
        0L -> operators.Multimodal.encodeWav(1, 8000, 640,
          (c, f) => if (f >= 256 && f < 384) 0
          else ((f * 31 + c * 17 + 101) % 4001) - 2000),
        1L -> operators.Multimodal.encodeWav(2, 8000, 300,
          (c, f) => ((f * 31 + c * 17 + 1 * 101) % 4001) - 2000),
        2L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      clips.toDF("clip_id", "payload")
        .select(col("clip_id"),
          explode(operators.Multimodal.audioSegmentStats(col("payload"), 128))
            .as("e"))
        .select(col("clip_id"), col("e.seg_idx").as("seg_idx"),
          col("e.mean_abs").as("mean_abs"), col("e.peak").as("peak"),
          (col("e.mean_abs") < 1.0).as("silent"))
        .transform(Queries.sortedSmall(_, "clip_id", "seg_idx"))
    })

  // --------------------------- MEDIA curation report (composite)
  // The mixed-corpus decision log: 18 images (6 families of 3), 12
  // AVIs (4 shifted families), 12 WAVs (4 shifted families), 2 junk
  // payloads — per-kind dedup through the audited pair machineries,
  // CC, smallest-id representative; output one row per payload with
  // (media_id, kind, verdict, reason, dup_of). The oracle rebuilds
  // ALL THREE fingerprint derivations (image grid lumas with
  // upscale/shift/mask, video frame hashes with trims, audio segment
  // envelopes with trim+gain), all three recursive closures, and the
  // final assembly — the media twin of the composed text-curation
  // logs.
  private val qMediaCuration = Queries.Q(
    "p_media_curation",
    Some(s"""
      WITH RECURSIVE
      ${OracleSql.images18("i")},
      ${OracleSql.gridHash("i", "ipx", "i")},
      ${OracleSql.hammingPairs("i")},
      ${OracleSql.closure("ipairs", "ia", "ib", "ig", "ireach")},
      ${OracleSql.losers("ireach", "ilosers")},
      ${OracleSql.videosShifted12("v")},
      ${OracleSql.gridHash("v", "vpx", "i", "f")},
      ${OracleSql.setOverlap("v")},
      ${OracleSql.overlapPairs("v")},
      ${OracleSql.closure("vpairs", "ia", "ib", "vg", "vreach")},
      ${OracleSql.losers("vreach", "vlosers")},
      ${OracleSql.clipsShifted12("a")},
      ${OracleSql.envelopeHash("a", "ae", "i", "s")},
      ${OracleSql.setOverlap("a")},
      ${OracleSql.overlapPairs("a")},
      ${OracleSql.closure("apairs", "ia", "ib", "ag", "areach")},
      ${OracleSql.losers("areach", "alosers")},
      allm(id, kind) AS (
        SELECT i, 'png' FROM generate_series(0, 17) t(i)
        UNION ALL SELECT i + 100, 'avi' FROM generate_series(0, 11) t(i)
        UNION ALL SELECT i + 200, 'wav' FROM generate_series(0, 11) t(i)
        UNION ALL SELECT 300, 'other'
        UNION ALL SELECT 301, 'other'),
      losr(id, dup_of, reason) AS (
        SELECT node, grp, 'image_near_dup' FROM ilosers
        UNION ALL SELECT node + 100, grp + 100, 'video_near_dup' FROM vlosers
        UNION ALL SELECT node + 200, grp + 200, 'audio_near_dup' FROM alosers)
      SELECT CAST(allm.id AS BIGINT) AS media_id, kind,
             CASE WHEN losr.id IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
             COALESCE(losr.reason,
               CASE WHEN kind = 'other' THEN 'undecodable' ELSE 'unique' END) AS reason,
             CAST(losr.dup_of AS BIGINT) AS dup_of
      FROM allm LEFT JOIN losr ON losr.id = allm.id
      ORDER BY media_id"""),
    (s, dir) => {
      def from(first: Long, family: MediaFixtures.Payloads): MediaFixtures.Payloads =
        family.map { case (i, payload) => (first + i, payload) }
      val junk: MediaFixtures.Payloads = Seq(
        300L -> "not media at all".getBytes("UTF-8"),
        301L -> Array[Byte](0x1, 0x2, 0x3))
      import s.implicits._
      operators.Multimodal.mediaCurationReport(
        (MediaFixtures.images18(upscale = true) ++
          from(100, MediaFixtures.videosShifted12) ++
          from(200, MediaFixtures.clipsShifted12) ++ junk).toDF("media_id", "payload"),
        "media_id", "payload",
        imageMaxHamming = 3, videoStride = 1, videoMinFrac = 0.5,
        audioSegFrames = 128, audioMinFrac = 0.5)
        .transform(Queries.sortedSmall(_, "media_id"))
    })

  // --------------------------- video shot-boundary detection
  // Hard cuts as consecutive-frame perceptual distance: 4 videos with
  // scene-keyed gradient STRUCTURE (each scene multiplies different
  // slopes — a mere brightness shift is dHash-invariant and would be
  // no cut), static within scenes, cuts at per-video frames; a
  // cut-free clip and junk emit nothing. The oracle rebuilds every
  // frame hash and recomputes hamming(f−1, f) > 16 per frame.
  private val qVideoShots = Queries.Q(
    "p_video_shots",
    Some(s"""
      WITH vids(i, b, w, h, nf, cut1, cut2) AS (
        SELECT * FROM (VALUES
          (0, 0, 12, 10, 10, 3, 7),
          (1, 1, 13, 11, 10, 4, 7),
          (2, 2, 14, 10, 10, 3, 99),
          (3, 3, 12, 11, 10, 99, 99))),
      fr AS (SELECT i, b, w, h, cut1, cut2,
                    unnest(generate_series(0, nf - 1)) AS f
             FROM vids),
      sc AS (SELECT *, CASE WHEN f >= cut2 THEN 2
                            WHEN f >= cut1 THEN 1 ELSE 0 END AS scene
             FROM fr),
      cells AS (
        SELECT i, f, b, scene, gx, gy,
               ((gx * w) // 9) AS sx, ((gy * h) // 8) AS sy
        FROM sc, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
      px AS (
        SELECT i, f, gx, gy, (f0 + f1 + f2) // 3 AS luma
        FROM (SELECT *,
                ((sx*(2+scene) + sy*(3+2*scene) + b*53) * (scene*97+13)) % 180 AS f0,
                ((sx*(2+scene) + sy*(3+2*scene) + 37 + b*53) * (scene*97+13)) % 180 AS f1,
                ((sx*(2+scene) + sy*(3+2*scene) + 74 + b*53) * (scene*97+13)) % 180 AS f2
              FROM cells)),
      ${OracleSql.gridHash("", "px", "i", "f")}
      SELECT CAST(cur.i AS BIGINT) AS video_id, CAST(cur.f AS INT) AS frame_idx
      FROM hs cur JOIN hs prev ON prev.i = cur.i AND prev.f = cur.f - 1
      WHERE ${OracleSql.hamming("cur", "prev")} > 16
      ORDER BY video_id, frame_idx"""),
    (s, dir) => {
      val cuts = Seq((3, 7), (4, 7), (3, 99), (99, 99))
      val vids: Seq[(Long, Array[Byte])] = (0 until 4).map { b =>
        val (w, h) = (12 + b % 3, 10 + b % 2)
        val (cut1, cut2) = cuts(b)
        (b.toLong, operators.Multimodal.encodeAvi(w, h, 10,
          (f, x, y, c) => {
            val scene = if (f >= cut2) 2 else if (f >= cut1) 1 else 0
            ((x * (2 + scene) + y * (3 + 2 * scene) + c * 37 + b * 53) *
              (scene * 97 + 13)) % 180
          },
          topDown = b % 2 == 1))
      }
      val junk: Seq[(Long, Array[Byte])] = Seq(4L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      (vids ++ junk).toDF("video_id", "payload")
        .select(col("video_id"),
          explode(operators.Multimodal.videoShotBoundaries(col("payload"), 16))
            .as("frame_idx"))
        .transform(Queries.sortedSmall(_, "video_id", "frame_idx"))
    })

  // --------------------------- IMA-ADPCM decode (compressed audio)
  // The IMA quantizer is an INTEGER state machine (public step/index
  // tables, successive-approximation nibbles), so unlike JPEG the
  // compressed-audio path is fully oracle-checkable: DuckDB replays
  // encoder+decoder per (clip, channel, frame) in one recursive CTE —
  // block-header resets at 169-frame boundaries, cross-block step
  // index carry, stereo interleave — and rebuilds the exact
  // [channels, rate, n_frames, mean…, rms…] stats vector the Spark
  // side reads with audioSampleStats off the real wire payload.
  private val qAdpcmStats = Queries.Q(
    "p_adpcm_stats",
    Some("""
      WITH RECURSIVE clips(id, b, nf, ch) AS (
        SELECT * FROM (VALUES (0, 37, 169, 1), (1, 59, 400, 1), (2, 83, 338, 2))),
      tabs AS (SELECT
        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,
         60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,
         307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,
         1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,
         4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,
         12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,
         32767] AS st,
        [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8] AS it),
      dec(id, b, nf, ch, c, f, pred, idx) AS (
        SELECT id, b, nf, ch, c, 0, ((c * 17) % 4001) - 2000, 0
        FROM clips, generate_series(0, 1) cs(c) WHERE c < ch
        UNION ALL
        SELECT id, b, nf, ch, c, f + 1,
               CASE WHEN (f + 1) % 169 = 0 THEN tgt
                    WHEN s8 THEN GREATEST(-32768, pred - delta)
                    ELSE LEAST(32767, pred + delta) END,
               CASE WHEN (f + 1) % 169 = 0 THEN idx
                    ELSE LEAST(88, GREATEST(0, idx + it[nib + 1])) END
        FROM (
          SELECT *,
                 (CASE WHEN s8 THEN 8 ELSE 0 END) + (CASE WHEN b4 THEN 4 ELSE 0 END) +
                 (CASE WHEN b2 THEN 2 ELSE 0 END) + (CASE WHEN b1 THEN 1 ELSE 0 END) AS nib,
                 (step // 8) + (CASE WHEN b1 THEN step // 4 ELSE 0 END) +
                 (CASE WHEN b2 THEN step // 2 ELSE 0 END) +
                 (CASE WHEN b4 THEN step ELSE 0 END) AS delta
          FROM (
            SELECT *, (ad2 - CASE WHEN b2 THEN step // 2 ELSE 0 END) >= step // 4 AS b1
            FROM (
              SELECT *, ad2 >= step // 2 AS b2
              FROM (
                SELECT *, ad - CASE WHEN b4 THEN step ELSE 0 END AS ad2
                FROM (
                  SELECT *, ad >= step AS b4
                  FROM (
                    SELECT q0.*, tgt - pred < 0 AS s8, ABS(tgt - pred) AS ad
                    FROM (SELECT d.*, t.it,
                            (((d.f + 1) * d.b + d.c * 17) % 4001) - 2000 AS tgt,
                            t.st[d.idx + 1] AS step
                          FROM dec d, tabs t WHERE d.f + 1 < d.nf) q0
                  ) q1) q2) q3) q4) q5) q6),
      agg AS (
        SELECT id, ch, nf, c,
               SUM(CAST(pred AS BIGINT)) AS s,
               SUM(CAST(pred AS BIGINT) * pred) AS sq
        FROM dec GROUP BY id, ch, nf, c),
      outp AS (
        SELECT id, 0 AS pos, CAST(ch AS DOUBLE) AS stat FROM clips
        UNION ALL SELECT id, 1, 8000.0 FROM clips
        UNION ALL SELECT id, 2, CAST(nf AS DOUBLE) FROM clips
        UNION ALL SELECT id, 3 + c, CAST(s AS DOUBLE) / nf FROM agg
        UNION ALL SELECT id, 3 + ch + c, SQRT(CAST(sq AS DOUBLE) / nf) FROM agg)
      SELECT CAST(id AS BIGINT) AS clip_id, CAST(pos AS INT) AS pos, stat
      FROM outp ORDER BY clip_id, pos"""),
    (s, dir) => {
      def smp(b: Int)(c: Int, f: Int): Int = ((f * b + c * 17) % 4001) - 2000
      val clips = Seq(
        0L -> operators.Multimodal.encodeWavImaAdpcm(1, 8000, 169, smp(37), 169),
        1L -> operators.Multimodal.encodeWavImaAdpcm(1, 8000, 400, smp(59), 169),
        2L -> operators.Multimodal.encodeWavImaAdpcm(2, 8000, 338, smp(83), 169))
      import s.implicits._
      clips.toDF("clip_id", "payload")
        .select(col("clip_id"),
          posexplode(operators.Multimodal.audioSampleStats(col("payload")))
            .as(Seq("pos", "stat")))
        .transform(Queries.sortedSmall(_, "clip_id", "pos"))
    })

  val all: Seq[Queries.Q] =
    Seq(qVideoDedupShifted, qAudioDedupShifted, qVideoNearDupShiftedTol,
      qIncrementalImageDedup, qIncrementalVideoDedup, qIncrementalAudioDedup,
      qAudioVideoMatches, qVideoShots, qAudioSegmentStats, qPngInterlacedStats,
      qPngPaletteStats,
      qMediaCuration, qAdpcmStats)
}
