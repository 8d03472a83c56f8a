package graft

import org.apache.spark.sql.functions._

import graft.util.Jobs

/** Round-20 pipeline queries: G.711 µ-law/A-law decode (exact table
  * expansion — fully oracle-checkable like IMA-ADPCM), arbitrary-
  * offset audio trim tolerance (sliding probe-side segment hashes
  * against a single-phase catalog), animated-GIF-as-video (palette
  * arithmetic is exact, so composited frame stats get a full
  * oracle), shot-keyed video frame sampling, the incremental +
  * lineage forms of the media curation report, and sample-rate-
  * tolerant audio near-dup (time-based segmentation — the tolerance
  * axis frame-count segmentation structurally lacks). Oracle
  * discipline as
  * everywhere: DuckDB recomputes every sample/pixel from the fixture
  * formula, every hash bit, and every recursive closure — the Spark
  * side decodes real containers. */
object PipelineQueries5 {

  // --------------------------- G.711 µ-law / A-law decode
  // One byte per sample through the public CCITT expansions — pure
  // integer table math, so (unlike JPEG) the legacy-telephony decode
  // path is fully oracle-checkable. Clips 0/1 sweep ALL 256 codes of
  // each law (byte = frame index), clip 2 interleaves a stereo
  // pattern whose per-channel byte stream covers the full code space
  // (gcd(7, 256) = 1); junk emits nothing. The oracle replays
  // complement/XOR-0x55, mantissa·2^segment re-bias, and the sign
  // conventions (µ-law: bit set ⇒ negative; A-law: bit set ⇒
  // positive) per byte, then rebuilds the exact
  // [channels, rate, n_frames, mean…, rms…] stats vector.
  private val qG711Stats = Queries.Q(
    "p_g711_stats",
    Some("""
      WITH clips(id, ch, nf, law) AS (
        SELECT * FROM (VALUES (0, 1, 256, 'u'), (1, 1, 256, 'a'), (2, 2, 300, 'u'))),
      smp AS (
        SELECT id, ch, nf, c, f,
               CASE WHEN id = 2 THEN (f * 7 + c * 13) % 256 ELSE f % 256 END AS byte
        FROM clips,
             generate_series(0, 1) cs(c),
             generate_series(0, 299) fs(f)
        WHERE c < ch AND f < nf),
      lin AS (
        SELECT id, ch, nf, c, f,
               CASE WHEN law = 'u' THEN
                 CASE WHEN (255 - byte) >= 128
                      THEN 132 - ((((255 - byte) % 16) * 8 + 132)
                                  * (1 << (((255 - byte) // 16) % 8)))
                      ELSE ((((255 - byte) % 16) * 8 + 132)
                            * (1 << (((255 - byte) // 16) % 8))) - 132 END
               ELSE
                 CASE WHEN xor(byte, 85) >= 128 THEN 1 ELSE -1 END *
                 CASE WHEN (xor(byte, 85) // 16) % 8 = 0
                        THEN (xor(byte, 85) % 16) * 16 + 8
                      WHEN (xor(byte, 85) // 16) % 8 = 1
                        THEN (xor(byte, 85) % 16) * 16 + 264
                      ELSE ((xor(byte, 85) % 16) * 16 + 264)
                           * (1 << ((xor(byte, 85) // 16) % 8 - 1)) END
               END AS val
        FROM smp JOIN clips USING (id, ch, nf)),
      agg AS (
        SELECT id, ch, nf, c,
               SUM(CAST(val AS BIGINT)) AS s,
               SUM(CAST(val AS BIGINT) * val) AS sq
        FROM lin GROUP BY id, ch, nf, c),
      outp AS (
        SELECT id, 0 AS pos, CAST(ch AS DOUBLE) AS stat FROM clips
        UNION ALL SELECT id, 1, 8000.0 FROM clips
        UNION ALL SELECT id, 2, CAST(nf AS DOUBLE) FROM clips
        UNION ALL SELECT id, 3 + c, CAST(s AS DOUBLE) / nf FROM agg
        UNION ALL SELECT id, 3 + ch + c, SQRT(CAST(sq AS DOUBLE) / nf) FROM agg)
      SELECT CAST(id AS BIGINT) AS clip_id, CAST(pos AS INT) AS pos, stat
      FROM outp ORDER BY clip_id, pos"""),
    (s, dir) => {
      val clips: Seq[(Long, Array[Byte])] = Seq(
        0L -> operators.Multimodal.encodeWavG711(1, 8000, 256, (_, f) => f),
        1L -> operators.Multimodal.encodeWavG711(1, 8000, 256, (_, f) => f,
          aLaw = true),
        2L -> operators.Multimodal.encodeWavG711(2, 8000, 300,
          (c, f) => (f * 7 + c * 13) % 256),
        3L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      clips.toDF("clip_id", "payload")
        .select(col("clip_id"),
          posexplode(operators.Multimodal.audioSampleStats(col("payload")))
            .as(Seq("pos", "stat")))
        .transform(Queries.sortedSmall(_, "clip_id", "pos"))
    })

  // --------------------------- arbitrary-offset audio near-dup
  // The round-19 verdict's top gap: fixed-phase segment hashing
  // zeroes containment for any trim that is NOT a segFrames
  // multiple. Fixture pins a 37-frame trim (with a 3× gain for good
  // measure), a 128-frame ALIGNED trim (the equivalence case), an
  // unrelated clip, and junk; hop = 1 (full tolerance). The oracle
  // rebuilds every sliding-window envelope hash via prefix sums,
  // groups matches by implied alignment, and replays the
  // best-alignment selection.
  private val qAudioNearDupOffset = Queries.Q(
    "p_audio_near_dup_offset",
    Some(s"""
      WITH clips(id, nf, mult, sh, b, addc) AS (
        SELECT * FROM (VALUES
          (0, 500, 1, 0, 31, 101), (1, 463, 3, 37, 31, 101),
          (2, 372, 1, 128, 31, 101), (3, 400, 1, 0, 37, 211))),
      fr AS ( -- quadratic-phase signal: f² mod p decorrelates every
              -- shift (a linear sawtooth's ~129-frame period aliases
              -- against the 128-frame window)
        SELECT id, f,
               ABS(mult * (((((f + sh) * (f + sh)) % 4001) * b
                            + (f + sh) * 7 + addc) % 4001 - 2000)) AS aamp
        FROM clips, generate_series(0, 499) fs(f) WHERE f < nf),
      pre AS (
        SELECT id, f, SUM(aamp) OVER (PARTITION BY id ORDER BY f
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
        FROM fr),
      wins AS (SELECT id, p FROM clips, generate_series(0, 372) pp(p)
               WHERE p <= nf - 128),
      we AS (
        SELECT id, p, w,
               p + (w * 128) // 65 AS wf, p + ((w + 1) * 128) // 65 AS wt
        FROM wins, generate_series(0, 64) ws(w)),
      en AS (
        SELECT we.id, we.p, we.w, CAST(we.wt - we.wf AS BIGINT) AS len,
               COALESCE(a.ps, 0) - COALESCE(bb.ps, 0) AS e
        FROM we
        LEFT JOIN pre a ON a.id = we.id AND a.f = we.wt - 1
        LEFT JOIN pre bb ON bb.id = we.id AND bb.f = we.wf - 1),
      ${OracleSql.envelopeHash("", "en", "id", "p")},
      cat AS (SELECT id AS cid, p // 128 AS k, lo, hi FROM hs WHERE p % 128 = 0),
      catn AS (SELECT cid, COUNT(*) AS nc FROM cat GROUP BY cid),
      prbn AS (SELECT id AS pid, p % 128 AS r, COUNT(*) AS np
               FROM hs GROUP BY id, p % 128),
      m AS (
        SELECT h.id AS pid, c.cid, c.k * 128 - h.p AS off, COUNT(*) AS nm
        FROM hs h JOIN cat c ON c.lo = h.lo AND c.hi = h.hi AND c.cid <> h.id
        GROUP BY h.id, c.cid, c.k * 128 - h.p),
      fr2 AS (
        SELECT m.pid, m.cid, m.off, m.nm,
               CAST(m.nm AS DOUBLE) / LEAST(p.np, c2.nc) AS frac
        FROM m
        JOIN prbn p ON p.pid = m.pid AND p.r = ((-m.off) % 128 + 128) % 128
        JOIN catn c2 ON c2.cid = m.cid
        WHERE CAST(m.nm AS DOUBLE) / LEAST(p.np, c2.nc) >= 0.5),
      best AS (
        SELECT pid, cid, off, nm, frac,
               ROW_NUMBER() OVER (PARTITION BY pid, cid
                 ORDER BY frac DESC, nm DESC, off ASC) AS rn
        FROM fr2)
      SELECT CAST(pid AS BIGINT) AS probe_id, CAST(cid AS BIGINT) AS catalog_id,
             CAST(off AS INT) AS offset, CAST(nm AS BIGINT) AS n_match,
             frac AS match_frac
      FROM best WHERE rn = 1 ORDER BY probe_id, catalog_id"""),
    (s, dir) => {
      def base(b: Int, add: Int)(g: Int): Int =
        (((g * g % 4001) * b + g * 7 + add) % 4001) - 2000
      val clips: Seq[(Long, Array[Byte])] = Seq(
        0L -> operators.Multimodal.encodeWav(1, 8000, 500,
          (_, f) => base(31, 101)(f)),
        1L -> operators.Multimodal.encodeWav(1, 8000, 463,
          (_, f) => 3 * base(31, 101)(f + 37)),
        2L -> operators.Multimodal.encodeWav(1, 8000, 372,
          (_, f) => base(31, 101)(f + 128)),
        3L -> operators.Multimodal.encodeWav(1, 8000, 400,
          (_, f) => base(37, 211)(f)),
        4L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      operators.Multimodal.audioNearDupPairsOffset(
        clips.toDF("clip_id", "payload"), "clip_id", "payload",
        segFrames = 128, hop = 1, minFrac = 0.5)
        .transform(Queries.sortedSmall(_, "probe_id", "catalog_id"))
    })

  // --------------------------- animated GIF compositing stats
  // Palette arithmetic is exact, so the FULL animation semantics —
  // partial rects, GCE transparency, disposal 2 (restore background)
  // and 3 (restore previous), local palettes, interlaced frames —
  // are oracle-checkable per composited canvas pixel: gif 0 pins
  // full redraws + a local palette + an interlaced frame (layout-
  // invariant for means; hash invariance is spec-pinned), gif 1 a
  // transparent partial rect then disposal-2 background restore,
  // gif 2 the disposal-3 previous-canvas restore, gif 3 the
  // single-frame degenerate case; junk emits nothing.
  private val qGifAnimStats = Queries.Q(
    "p_gif_anim_stats",
    Some("""
      WITH pals AS (
        SELECT 0 AS gid, 'g' AS pal, i,
               ((i*3+40)%256 + (i*5+7)%256 + (i*11+3)%256) AS s
        FROM generate_series(0, 255) t(i)
        UNION ALL SELECT 0, 'l', i,
               ((i*5+1)%256 + (i*7+2)%256 + (i*3+5)%256)
        FROM generate_series(0, 255) t(i)
        UNION ALL SELECT 1, 'g', i,
               ((i*7+11)%256 + (i*2+3)%256 + (i*13+1)%256)
        FROM generate_series(0, 255) t(i)
        UNION ALL SELECT 2, 'g', i,
               ((i*9+5)%256 + (i*4+1)%256 + (i*6+7)%256)
        FROM generate_series(0, 255) t(i)
        UNION ALL SELECT 3, 'g', i,
               ((i*3+40)%256 + (i*5+7)%256 + (i*11+3)%256)
        FROM generate_series(0, 255) t(i)),
      allpx AS (
        SELECT 0 AS gid, 12 AS w, 8 AS h, f, x, y,
               CASE WHEN f = 1 THEN 'l' ELSE 'g' END AS pal,
               CASE WHEN f = 0 THEN (x*7+y*13)%256
                    WHEN f = 1 THEN (x*11+y*3+29)%256
                    ELSE (x*7+y*13+58)%256 END AS idx
        FROM generate_series(0, 2) fs(f),
             generate_series(0, 11) xs(x), generate_series(0, 7) ys(y)
        UNION ALL
        SELECT 1, 14, 10, f, x, y, 'g',
               CASE
                 WHEN f = 0 THEN (x*7+y*13)%256
                 WHEN f = 1 THEN
                   CASE WHEN x BETWEEN 3 AND 8 AND y BETWEEN 2 AND 6
                        THEN CASE WHEN ((x-3)+(y-2))%3 = 0 THEN (x*7+y*13)%256
                                  ELSE ((x-3)*5+(y-2)*11+17)%246 + 10 END
                        ELSE (x*7+y*13)%256 END
                 ELSE
                   CASE WHEN x BETWEEN 1 AND 4 AND y BETWEEN 1 AND 3
                        THEN ((x-1)*3+(y-1)*7+23)%256
                        WHEN x BETWEEN 3 AND 8 AND y BETWEEN 2 AND 6 THEN 5
                        ELSE (x*7+y*13)%256 END
               END
        FROM generate_series(0, 2) fs(f),
             generate_series(0, 13) xs(x), generate_series(0, 9) ys(y)
        UNION ALL
        SELECT 2, 10, 9, f, x, y, 'g',
               CASE
                 WHEN f = 0 THEN (x*11+y*5+7)%256
                 WHEN f = 1 THEN
                   CASE WHEN x BETWEEN 2 AND 6 AND y BETWEEN 3 AND 6
                        THEN CASE WHEN ((x-2)*2+(y-3))%4 = 0 THEN (x*11+y*5+7)%256
                                  ELSE ((x-2)*7+(y-3)*13+31)%251 + 5 END
                        ELSE (x*11+y*5+7)%256 END
                 ELSE
                   CASE WHEN x BETWEEN 6 AND 8 AND y BETWEEN 0 AND 2
                        THEN ((x-6)*5+y*3+11)%256
                        ELSE (x*11+y*5+7)%256 END
               END
        FROM generate_series(0, 2) fs(f),
             generate_series(0, 9) xs(x), generate_series(0, 8) ys(y)
        UNION ALL
        SELECT 3, 6, 5, 0, x, y, 'g', (x+y*6)%256
        FROM generate_series(0, 5) xs(x), generate_series(0, 4) ys(y)),
      agg AS (
        SELECT a.gid, a.f, a.w, a.h, SUM(p.s) AS sums
        FROM allpx a JOIN pals p ON p.gid = a.gid AND p.pal = a.pal AND p.i = a.idx
        GROUP BY a.gid, a.f, a.w, a.h)
      SELECT CAST(gid AS BIGINT) AS gif_id, CAST(f AS BIGINT) AS frame_idx,
             CAST(sums AS DOUBLE) / (w * h * 3) AS mean
      FROM agg ORDER BY gif_id, frame_idx"""),
    (s, dir) => {
      import operators.Multimodal.{GifFrameSpec, encodeGifAnim}
      def pal0(i: Int) = ((i * 3 + 40) % 256, (i * 5 + 7) % 256, (i * 11 + 3) % 256)
      def lpal0(i: Int) = ((i * 5 + 1) % 256, (i * 7 + 2) % 256, (i * 3 + 5) % 256)
      def pal1(i: Int) = ((i * 7 + 11) % 256, (i * 2 + 3) % 256, (i * 13 + 1) % 256)
      def pal2(i: Int) = ((i * 9 + 5) % 256, (i * 4 + 1) % 256, (i * 6 + 7) % 256)
      val gifs: Seq[(Long, Array[Byte])] = Seq(
        0L -> encodeGifAnim(12, 8, 0, pal0, Seq(
          GifFrameSpec(0, 0, 12, 8, (x, y) => (x * 7 + y * 13) % 256),
          GifFrameSpec(0, 0, 12, 8, (x, y) => (x * 11 + y * 3 + 29) % 256,
            localPalette = Some(lpal0)),
          GifFrameSpec(0, 0, 12, 8, (x, y) => (x * 7 + y * 13 + 58) % 256,
            interlaced = true))),
        1L -> encodeGifAnim(14, 10, 5, pal1, Seq(
          GifFrameSpec(0, 0, 14, 10, (x, y) => (x * 7 + y * 13) % 256),
          GifFrameSpec(3, 2, 6, 5,
            (lx, ly) => if ((lx + ly) % 3 == 0) 9 else (lx * 5 + ly * 11 + 17) % 246 + 10,
            disposal = 2, transparent = Some(9)),
          GifFrameSpec(1, 1, 4, 3, (lx, ly) => (lx * 3 + ly * 7 + 23) % 256))),
        2L -> encodeGifAnim(10, 9, 0, pal2, Seq(
          GifFrameSpec(0, 0, 10, 9, (x, y) => (x * 11 + y * 5 + 7) % 256),
          GifFrameSpec(2, 3, 5, 4,
            (lx, ly) => if ((lx * 2 + ly) % 4 == 0) 4 else (lx * 7 + ly * 13 + 31) % 251 + 5,
            disposal = 3, transparent = Some(4)),
          GifFrameSpec(6, 0, 3, 3, (lx, ly) => (lx * 5 + ly * 3 + 11) % 256))),
        3L -> encodeGifAnim(6, 5, 0, pal0, Seq(
          GifFrameSpec(0, 0, 6, 5, (x, y) => (x + y * 6) % 256))),
        4L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      gifs.toDF("gif_id", "payload")
        .select(col("gif_id"),
          explode(operators.Multimodal.frameSample(col("payload"), 1)).as("e"))
        .select(col("gif_id"), col("e.frame_idx").as("frame_idx"),
          col("e.mean").as("mean"))
        .transform(Queries.sortedSmall(_, "gif_id", "frame_idx"))
    })

  // --------------------------- shot-keyed frame sampling
  // One representative fingerprint per SHOT (p_video_shots' cut rule:
  // frame 0 + every frame more than 16 bits from its predecessor) —
  // the same scene-keyed gradient fixture as the boundary query, so
  // the two verbs cross-check; the oracle rebuilds every frame hash,
  // re-derives the cut set, ranks shots per video, and emits each
  // opener's hash as two 32-bit halves (DuckDB range-checks 1<<63).
  private val qVideoShotFrames = Queries.Q(
    "p_video_shot_frames",
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
      ${OracleSql.gridHash("", "px", "i", "f")},
      reps AS (
        SELECT cur.i, cur.f, cur.lo, cur.hi
        FROM hs cur LEFT JOIN hs prev ON prev.i = cur.i AND prev.f = cur.f - 1
        WHERE prev.f IS NULL OR
              ${OracleSql.hamming("cur", "prev")} > 16)
      SELECT CAST(i AS BIGINT) AS video_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY i ORDER BY f) - 1 AS INT) AS shot_idx,
             CAST(f AS INT) AS frame_idx,
             lo AS dhash_lo, hi AS dhash_hi
      FROM reps ORDER BY video_id, frame_idx"""),
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
          explode(operators.Multimodal.videoShotFrameDHashes(col("payload"), 16))
            .as("e"))
        .select(col("video_id"), col("e.shot_idx").as("shot_idx"),
          col("e.frame_idx").as("frame_idx"),
          col("e.dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("dhash_lo"),
          shiftrightunsigned(col("e.dhash"), 32).as("dhash_hi"))
        .transform(Queries.sortedSmall(_, "video_id", "frame_idx"))
    })

  /** The shared hash-derivation + old/new chain SQL of the two-run
    * media oracles (DuckDB rebuilds every image dHash, video frame
    * hash and audio segment envelope for BOTH corpora from the
    * fixture formulas, then both runs' pair sets and closures). The
    * incremental and lineage queries append different tails. */
  private val twoRunsSqlPrefix: String = s"""
      WITH RECURSIVE
      imgs(c, id, b, v) AS (
        SELECT * FROM (VALUES
          ('o',0,0,0),('o',1,0,1),('o',2,0,2),('o',3,1,0),('o',4,1,1),
          ('o',5,1,2),('o',6,2,0),('o',7,2,1),('o',8,2,2),
          ('n',0,0,0),('n',1,0,1),('n',3,1,0),('n',4,1,1),('n',5,1,2),
          ('n',6,2,0),('n',7,2,1),('n',2,7,0),('n',10,1,0),('n',11,8,0),
          ('n',12,8,1))),
      vids(c, id, b, v) AS (
        SELECT * FROM (VALUES
          ('o',100,0,0),('o',101,0,1),('o',102,0,2),('o',103,1,0),
          ('o',104,1,1),('o',105,1,2),
          ('n',100,0,0),('n',101,0,1),('n',102,0,2),('n',103,1,0),
          ('n',104,1,1),('n',105,1,2),('n',110,0,3),('n',111,9,0))),
      auds(c, id, b, v) AS (
        SELECT * FROM (VALUES
          ('o',200,0,0),('o',201,0,1),('o',202,0,2),('o',203,1,0),
          ('o',204,1,1),('o',205,1,2),('o',206,5,0),
          ('n',200,0,0),('n',201,0,1),('n',202,0,2),('n',203,1,0),
          ('n',204,1,1),('n',205,1,2),('n',206,5,1),('n',210,0,3))),
      junks(c, id) AS (
        SELECT * FROM (VALUES ('o',300),('n',300),('n',301))),
      -- ---- image dHashes (upscale+40 is grid/brightness-invariant:
      -- sx from the ORIGINAL dims — floor(floor(2a)/2)=floor(a))
      imgd AS (SELECT c, id, b, v, 12 + b AS w, 10 + b % 4 AS h,
                      CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS ch
               FROM imgs),
      ${OracleSql.imageGrid("i", "imgd", "c", "id")},
      ${OracleSql.gridHash("i", "ipx", "c", "id")},
      -- ---- video frame-hash sets
      vmeta AS (SELECT c, id, b, v, 12 + b % 3 AS w, 10 + b % 2 AS h,
                       8 + b % 2 AS nf0,
                       CASE v WHEN 1 THEN 2 WHEN 3 THEN 4 ELSE 0 END AS trim
                FROM vids),
      vfr AS (SELECT c, id, b, v, w, h,
                     unnest(generate_series(trim, nf0 - 1)) AS f
              FROM vmeta),
      ${OracleSql.videoGrid("v", "vfr",
        "CASE WHEN v = 2 AND (sx + sy) % 3 = 0 AND f % 2 = 1 THEN 25 ELSE 0 END", "c", "id")},
      ${OracleSql.gridHash("v", "vpx", "c", "id", "f")},
      vhset AS (SELECT DISTINCT c, id, lo, hi FROM vhs),
      vns AS (SELECT c, id, COUNT(*) AS n FROM vhset GROUP BY c, id),
      -- ---- audio segment-envelope hash sets
      ameta AS (SELECT c, id, b, v, 500 + b * 61 AS nf0, 1 + b % 2 AS ch,
                       CASE v WHEN 1 THEN 128 WHEN 3 THEN 256 ELSE 0 END AS trim
                FROM auds),
      aphys AS (SELECT *, nf0 - trim AS pn FROM ameta),
      ${OracleSql.segmentWindows("a", "aphys", "pn", 10, "c", "id")},
      afr AS (
        SELECT c, id, b, v, ch, trim, unnest(generate_series(0, pn - 1)) AS f
        FROM aphys),
      acs AS (SELECT c, id, b, v, trim, f,
                     CASE WHEN v = 2 AND f % 128 < 64 AND (f // 128) % 2 = 1
                          THEN 4 ELSE 1 END AS mult,
                     unnest(generate_series(0, ch - 1)) AS ck
              FROM afr),
      asmp AS (
        SELECT c, id, f,
               SUM(ABS(((((f + trim) * 31 + ck * 17 + b * 101) % 4001) - 2000)
                       * mult)) AS aamp
        FROM acs GROUP BY c, id, f),
      ${OracleSql.segmentEnergies("a", "c", "id")},
      ${OracleSql.envelopeHash("a", "ae", "c", "id", "s")},
      ahset AS (SELECT DISTINCT c, id, lo, hi FROM ahs),
      ans AS (SELECT c, id, COUNT(*) AS n FROM ahset GROUP BY c, id),
      -- ---- per-corpus pair sets and closures (one template, both
      -- corpora; the tails pick the runs they need)
      ipairs AS (
        SELECT x.c, x.id AS ia, y.id AS ib
        FROM ihs x JOIN ihs y ON y.c = x.c AND x.id < y.id
         AND ${OracleSql.hamming("x", "y")} <= 3),
      vpairs AS (
        SELECT vmm.c, ia, ib
        FROM (SELECT x.c, x.id AS ia, y.id AS ib, COUNT(*) AS nm
              FROM vhset x JOIN vhset y
                ON y.c = x.c AND x.lo = y.lo AND x.hi = y.hi AND x.id < y.id
              GROUP BY x.c, x.id, y.id) vmm
        JOIN vns na ON na.c = vmm.c AND na.id = vmm.ia
        JOIN vns nb ON nb.c = vmm.c AND nb.id = vmm.ib
        WHERE CAST(nm AS DOUBLE) / LEAST(na.n, nb.n) >= 0.5),
      apairs AS (
        SELECT amm.c, ia, ib
        FROM (SELECT x.c, x.id AS ia, y.id AS ib, COUNT(*) AS nm
              FROM ahset x JOIN ahset y
                ON y.c = x.c AND x.lo = y.lo AND x.hi = y.hi AND x.id < y.id
              GROUP BY x.c, x.id, y.id) amm
        JOIN ans na ON na.c = amm.c AND na.id = amm.ia
        JOIN ans nb ON nb.c = amm.c AND nb.id = amm.ib
        WHERE CAST(nm AS DOUBLE) / LEAST(na.n, nb.n) >= 0.5),
      allpairs AS (
        SELECT c, ia, ib, 'image_near_dup' AS reason FROM ipairs
        UNION ALL SELECT c, ia, ib, 'video_near_dup' FROM vpairs
        UNION ALL SELECT c, ia, ib, 'audio_near_dup' FROM apairs),
      g AS (SELECT c, ia AS u, ib AS w FROM allpairs
            UNION SELECT c, ib, ia FROM allpairs),
      reach(c, node, r) AS (
        SELECT c, u, u FROM (SELECT DISTINCT c, u FROM g)
        UNION
        SELECT g.c, g.w, reach.r FROM reach JOIN g ON g.c = reach.c AND g.u = reach.node),
      losers AS (
        SELECT c, node, MIN(r) AS grp FROM reach GROUP BY c, node
        HAVING node <> MIN(r)),
      fams AS (
        SELECT c, id, 'png' AS kind, 'image_near_dup' AS famreason FROM imgs
        UNION ALL SELECT c, id, 'avi', 'video_near_dup' FROM vids
        UNION ALL SELECT c, id, 'wav', 'audio_near_dup' FROM auds
        UNION ALL SELECT c, id, 'other', NULL FROM junks),
      report AS ( -- the FULL report of each corpus
        SELECT f.c, f.id, f.kind,
               CASE WHEN l.node IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
               CASE WHEN l.node IS NOT NULL THEN f.famreason
                    WHEN f.kind = 'other' THEN 'undecodable'
                    ELSE 'unique' END AS reason,
               l.grp AS dup_of
        FROM fams f LEFT JOIN losers l ON l.c = f.c AND l.node = f.id),
      reused AS ( -- same id, same construction params ⇔ same bytes
        SELECT n.id FROM imgs n JOIN imgs o
          ON n.c = 'n' AND o.c = 'o' AND o.id = n.id AND o.b = n.b AND o.v = n.v
        UNION ALL SELECT n.id FROM vids n JOIN vids o
          ON n.c = 'n' AND o.c = 'o' AND o.id = n.id AND o.b = n.b AND o.v = n.v
        UNION ALL SELECT n.id FROM auds n JOIN auds o
          ON n.c = 'n' AND o.c = 'o' AND o.id = n.id AND o.b = n.b AND o.v = n.v
        UNION ALL SELECT n.id FROM junks n JOIN junks o
          ON n.c = 'n' AND o.c = 'o' AND o.id = n.id)"""

  // --------------------------- incremental media curation
  // Unchanged payloads (id + md5) reuse run N's verdict rows; only
  // the delta decodes, deduping within itself AND against the three
  // persisted fingerprint indexes with same-id exclusion (the
  // changed audio clip that became a trim of its OWN old content
  // must keep — its only index match is itself). The oracle derives
  // both corpora's hashes, the old run's full chains (for the reused
  // rows), the delta-restricted chains, and the index matches.
  private val qIncrementalMediaCuration = Queries.Q(
    "p_incremental_media_curation",
    Some(twoRunsSqlPrefix + s""",
      delta AS (SELECT id FROM fams WHERE c = 'n'
                AND id NOT IN (SELECT id FROM reused)),
      dpairs AS (
        SELECT p.ia, p.ib FROM allpairs p
        WHERE p.c = 'n' AND p.ia IN (SELECT id FROM delta)
          AND p.ib IN (SELECT id FROM delta)),
      ${OracleSql.closure("dpairs", "ia", "ib", "dg", "dreach")},
      ${OracleSql.losers("dreach", "dlosers")},
      ihist AS (
        SELECT n.id AS nid, MIN(o.id) AS oid
        FROM ihs n JOIN ihs o ON n.c = 'n' AND o.c = 'o' AND o.id <> n.id
         AND ${OracleSql.hamming("n", "o")} <= 3
        WHERE n.id IN (SELECT id FROM delta)
        GROUP BY n.id),
      vhist AS (
        SELECT nid, MIN(oid) AS oid FROM (
          SELECT x.id AS nid, y.id AS oid, COUNT(*) AS nm
          FROM vhset x JOIN vhset y
            ON x.c = 'n' AND y.c = 'o' AND x.lo = y.lo AND x.hi = y.hi
           AND y.id <> x.id
          WHERE x.id IN (SELECT id FROM delta)
          GROUP BY x.id, y.id) m
        JOIN vns nn ON nn.c = 'n' AND nn.id = m.nid
        JOIN vns no ON no.c = 'o' AND no.id = m.oid
        WHERE CAST(nm AS DOUBLE) / LEAST(nn.n, no.n) >= 0.5
        GROUP BY nid),
      ahist AS (
        SELECT nid, MIN(oid) AS oid FROM (
          SELECT x.id AS nid, y.id AS oid, COUNT(*) AS nm
          FROM ahset x JOIN ahset y
            ON x.c = 'n' AND y.c = 'o' AND x.lo = y.lo AND x.hi = y.hi
           AND y.id <> x.id
          WHERE x.id IN (SELECT id FROM delta)
          GROUP BY x.id, y.id) m
        JOIN ans nn ON nn.c = 'n' AND nn.id = m.nid
        JOIN ans no ON no.c = 'o' AND no.id = m.oid
        WHERE CAST(nm AS DOUBLE) / LEAST(nn.n, no.n) >= 0.5
        GROUP BY nid),
      cand AS (
        SELECT node AS id, grp AS dup_of FROM dlosers
        UNION ALL SELECT nid, oid FROM ihist
        UNION ALL SELECT nid, oid FROM vhist
        UNION ALL SELECT nid, oid FROM ahist),
      bestdup AS (SELECT id, MIN(dup_of) AS dup_of FROM cand GROUP BY id),
      freshrows AS (
        SELECT f.id, f.kind,
               CASE WHEN bd.id IS NOT NULL THEN 'drop' ELSE 'keep' END AS verdict,
               CASE WHEN bd.id IS NOT NULL THEN f.famreason
                    WHEN f.kind = 'other' THEN 'undecodable'
                    ELSE 'unique' END AS reason,
               bd.dup_of, FALSE AS reused
        FROM fams f LEFT JOIN bestdup bd ON bd.id = f.id
        WHERE f.c = 'n' AND f.id IN (SELECT id FROM delta)),
      reusedrows AS (
        SELECT r.id, r.kind, r.verdict, r.reason, r.dup_of, TRUE AS reused
        FROM report r JOIN reused u ON u.id = r.id
        WHERE r.c = 'o')
      SELECT CAST(id AS BIGINT) AS media_id, kind, verdict, reason,
             CAST(dup_of AS BIGINT) AS dup_of, reused
      FROM (SELECT * FROM reusedrows UNION ALL SELECT * FROM freshrows)
      ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val old = MediaFixtures.TwoRuns.oldCorpus.toDF("media_id", "payload")
      val nw = MediaFixtures.TwoRuns.newCorpus.toDF("media_id", "payload")
      // History artifacts MATERIALIZED once (eager localCheckpoint,
      // rows identical — the text twin qIncrementalCuration's r21
      // pattern): the incremental operator consumes oldReport from
      // two differently-pruned branches and each index's bucket-cap +
      // match branches would otherwise re-execute the old-corpus
      // decode/pair chains per consumer. In production these are
      // persisted parquet between runs; the checkpoint models exactly
      // that within the one timed run.
      // The four artifacts are INDEPENDENT jobs — materialized
      // concurrently (Jobs.concurrently, guide §2.6) instead of
      // strictly serially; same artifacts, same rows.
      val Seq(oldReport, imgIdx, vidIdx, audIdx) = Jobs.concurrently(
        () => operators.Multimodal.mediaCurationReport(
          old, "media_id", "payload",
          imageMaxHamming = 3, videoStride = 1, videoMinFrac = 0.5,
          audioSegFrames = 128, audioMinFrac = 0.5)
          .join(old.select(col("media_id"),
            operators.Multimodal.payloadMd5(col("payload")).as("payload_md5")),
            "media_id")
          .localCheckpoint(true),
        () => operators.Multimodal.imageHashIndex(old, "media_id", "payload")
          .localCheckpoint(true),
        () => operators.Multimodal.videoFrameHashIndex(old, "media_id", "payload", 1)
          .localCheckpoint(true),
        () => operators.Multimodal.audioSegmentHashIndex(old, "media_id", "payload", 128)
          .localCheckpoint(true))
      operators.Multimodal.incrementalMediaCurationReport(
        nw, "media_id", "payload", oldReport, imgIdx, vidIdx, audIdx)
        .transform(Queries.sortedSmall(_, "media_id"))
    })

  // --------------------------- media curation lineage
  // Run the media chain twice, classify every id's content status
  // (payload md5) and decision transition, and name the flipped
  // fields — the provenance surface of the media report. Same
  // two-run fixture; the oracle rebuilds BOTH runs' full reports.
  private val qMediaCurationLineage = Queries.Q(
    "p_media_curation_lineage",
    Some(twoRunsSqlPrefix + s""",
      status AS (
        SELECT COALESCE(o.id, n.id) AS id,
               CASE WHEN o.id IS NULL THEN 'added'
                    WHEN n.id IS NULL THEN 'removed'
                    WHEN o.id IN (SELECT id FROM reused) THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM (SELECT id FROM fams WHERE c = 'o') o
        FULL OUTER JOIN (SELECT id FROM fams WHERE c = 'n') n ON n.id = o.id)
      SELECT CAST(s.id AS BIGINT) AS media_id, s.status,
             CASE WHEN s.status = 'removed' THEN 'retired'
                  WHEN s.status = 'added' THEN
                    CASE WHEN nr.verdict = 'keep' THEN 'entered_kept'
                         ELSE 'entered_dropped' END
                  WHEN orp.verdict = 'keep' AND nr.verdict = 'keep' THEN 'still_kept'
                  WHEN orp.verdict = 'drop' AND nr.verdict = 'drop' THEN 'still_dropped'
                  WHEN orp.verdict = 'drop' AND nr.verdict = 'keep' THEN 'promoted'
                  ELSE 'demoted' END AS transition,
             orp.verdict AS old_verdict, nr.verdict AS new_verdict,
             orp.reason AS old_reason, nr.reason AS new_reason,
             CAST(orp.dup_of AS BIGINT) AS old_dup_of,
             CAST(nr.dup_of AS BIGINT) AS new_dup_of,
             CASE WHEN s.status IN ('changed', 'unchanged') THEN
               CONCAT(
                 CASE WHEN orp.reason IS DISTINCT FROM nr.reason
                      THEN 'reason' ELSE '' END,
                 CASE WHEN orp.reason IS DISTINCT FROM nr.reason
                       AND orp.dup_of IS DISTINCT FROM nr.dup_of
                      THEN ',' ELSE '' END,
                 CASE WHEN orp.dup_of IS DISTINCT FROM nr.dup_of
                      THEN 'dup_of' ELSE '' END)
             ELSE '' END AS flipped
      FROM status s
      LEFT JOIN report orp ON orp.c = 'o' AND orp.id = s.id
      LEFT JOIN report nr ON nr.c = 'n' AND nr.id = s.id
      ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val old = MediaFixtures.TwoRuns.oldCorpus.toDF("media_id", "payload")
      val nw = MediaFixtures.TwoRuns.newCorpus.toDF("media_id", "payload")
      def rep(df: org.apache.spark.sql.DataFrame) =
        operators.Multimodal.mediaCurationReport(df, "media_id", "payload",
          imageMaxHamming = 3, videoStride = 1, videoMinFrac = 0.5,
          audioSegFrames = 128, audioMinFrac = 0.5)
      // The two report chains are INDEPENDENT and each carries eager
      // decode/CC work during construction — built concurrently
      // (Jobs.concurrently, guide §2.6); same reports, same rows.
      val Seq(ro, rn) = Jobs.concurrently(
        () => rep(old), () => rep(nw))
      operators.Multimodal.mediaCurationLineage(
        old, nw, ro, rn, "media_id", "payload")
        .transform(Queries.sortedSmall(_, "media_id"))
    })

  // --------------------------- sample-rate-tolerant audio near-dup
  // The third tolerance axis of the audio family (shifted = trim at
  // segment multiples, offset = arbitrary trim, THIS = rate
  // conversion): frame-count segmentation puts different audio in
  // every segment once the rate changes, so a 44.1→48 kHz re-encode
  // matches NOTHING at any alignment; millisecond segmentation
  // (segFrames = ⌊rate·ms/1000⌋ per clip) makes segment k cover the
  // same TIME span at every rate. Fixture: 4 families × (8 kHz
  // original, 16 kHz ideal-upsample at gain 3, 4 kHz source with
  // sub-segment edits) — every clip an integer resample of one
  // logical source, ms = 65 so every derived segFrames (260/520/
  // 1040) is 65-divisible: all windows of a segment have EQUAL
  // length, each cross-multiplied envelope comparison reduces to
  // sign(E_{w+1} − E_w), and rate factor × gain scales both sides —
  // the three rates' hashes are PROVABLY bit-identical, so the
  // oracle computes each hash ONCE from the logical source. Content
  // is quadratic-phase per family (g² decorrelates families and
  // segments — a shared linear sawtooth gives whole families
  // near-identical envelope SHAPES and floods the output with
  // accidental cross-family 0.5-frac pairs, measured before this
  // form); edited 4 kHz segments REPLACE their content (g+7777 —
  // replacement flips the whole segment hash where a prefix gain
  // perturbs only the boundary window's bits, measured leaving
  // hashes intact): families 0/1/3 keep surviving fractions ≥ 0.5
  // and pair; family 2 (4 of 6 segments edited) drops below the
  // gate and must NOT pair its edited copy. Junk bytes and a 900 Hz
  // clip (derived segFrames 58 < 65 → NULL by contract) sample no
  // segments.
  private val qAudioResamplePairs = Queries.Q(
    "p_audio_resample_pairs",
    Some(s"""
      WITH ${OracleSql.resampleClips},
      ${OracleSql.envelopeHash("", "e", "i", "s")},
      ${OracleSql.setOverlap()}
      ${OracleSql.overlapRows}"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.audioNearDupPairsResampled(
        MediaFixtures.resampleClips.toDF("clip_id", "payload"), "clip_id", "payload",
        msPerSeg = 65, minFrac = 0.5)
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // --------------------------- rate-tolerant dedup output (decision)
  // The decision p_audio_resample_pairs' pairs feed: pairs → CC →
  // smallest-id representative. Same 15-row fixture; family 2's
  // edited copy survives as its own content (it never cleared the
  // gate), junk and the sub-65-derived 900 Hz clip always keep.
  private val qAudioResampleDedup = Queries.Q(
    "p_audio_resample_dedup",
    Some(s"""
      WITH RECURSIVE ${OracleSql.resampleClips},
      ${OracleSql.envelopeHash("", "e", "i", "s")},
      ${OracleSql.setOverlap()},
      ${OracleSql.overlapPairs()},
      ${OracleSql.closure("pairs", "ia", "ib")},
      ${OracleSql.losers()}
      SELECT CAST(i AS BIGINT) AS clip_id,
             CASE WHEN i IN (12, 13) THEN 'other' ELSE 'wav' END AS kind
      FROM generate_series(0, 14) t(i)
      WHERE i NOT IN (SELECT node FROM losers)
      ORDER BY clip_id"""),
    (s, dir) => {
      import s.implicits._
      operators.Multimodal.dedupAudioNearDupsResampled(
        MediaFixtures.resampleClips.toDF("clip_id", "payload"), "clip_id", "payload",
        msPerSeg = 65, minFrac = 0.5)
        .select(col("clip_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "clip_id"))
    })

  // --------------- incremental rate-tolerant dedup vs persisted index
  // The case the frame-count index form structurally KEEPS: history
  // fingerprinted once at 8 kHz into the ms-keyed index; the
  // increment holds a 16 kHz re-encode (gain 3) of history-0 and a
  // 2 kHz downsample of history-1 — both drop against the UNCHANGED
  // index because the time-keyed hashes coincide; fresh content, a
  // 700 Hz clip (derived segFrames 45 < 65 → NULL) and junk keep.
  // Logical sources at 2 kHz granularity, L = 130·(4+b) frames, so
  // every emission (2/8/16 kHz = rep 1/4/8) is in the 65-divisible
  // exactness regime (130/520/1040 derived frames).
  private val qIncrementalAudioResample = Queries.Q(
    "p_incremental_audio_resample",
    Some(s"""
      WITH clips(side, id, b, ch, nseg, gain) AS (
        SELECT * FROM (VALUES
          (0, 0, 0, 1, 4, 1),
          (0, 1, 1, 2, 5, 1),
          (0, 2, 2, 1, 6, 1),
          (1, 100, 0, 1, 4, 3),
          (1, 101, 9, 1, 4, 1),
          (1, 102, 1, 2, 5, 1))),
      lg AS (
        SELECT side, id, b, ch, gain,
               unnest(generate_series(0, 130 * nseg - 1)) AS g
        FROM clips),
      cs AS (SELECT side, id, b, g, gain, unnest(generate_series(0, ch - 1)) AS c
             FROM lg),
      smp AS (
        SELECT side, id, g,
               SUM(ABS(((((g * g) % 4001) * (31 + b) + g * 7 + c * 17
                         + b * 101) % 4001 - 2000) * gain)) AS aamp
        FROM cs GROUP BY side, id, g),
      segs AS (SELECT side, id, unnest(generate_series(0, nseg - 1)) AS s
               FROM clips),
      win AS (
        SELECT side, id, s, w, s * 130 + w * 2 AS wf, s * 130 + w * 2 + 2 AS wt
        FROM segs, generate_series(0, 64) ws(w)),
      e AS ( -- equal-length windows, as in OracleSql.resampleClips
        SELECT win.side, win.id, win.s, win.w, (win.wt - win.wf) AS len,
               SUM(smp.aamp) AS e
        FROM win JOIN smp ON smp.side = win.side AND smp.id = win.id
                         AND smp.g >= win.wf AND smp.g < win.wt
        GROUP BY win.side, win.id, win.s, win.w, win.wt, win.wf),
      ${OracleSql.envelopeHash("", "e", "side", "id", "s")},
      ${OracleSql.indexMatches}
      ${OracleSql.incrementKept("clip_id", "wav", Seq(100, 101, 102, 103, 104))}"""),
    (s, dir) => {
      val u = MediaFixtures.resampleSample _
      def at(rate: Int, rep: Int, b: Int, ch: Int, nseg: Int, gain: Int) =
        operators.Multimodal.encodeWav(ch, rate, 130 * nseg * rep,
          (c, f) => u(b)(c, f / rep) * gain)
      val history: Seq[(Long, Array[Byte])] = Seq(
        0L -> at(8000, 4, b = 0, ch = 1, nseg = 4, gain = 1),
        1L -> at(8000, 4, b = 1, ch = 2, nseg = 5, gain = 1),
        2L -> at(8000, 4, b = 2, ch = 1, nseg = 6, gain = 1))
      val increment: Seq[(Long, Array[Byte])] = Seq(
        // 16 kHz re-encode (gain 3) of history 0: drops cross-rate
        100L -> at(16000, 8, b = 0, ch = 1, nseg = 4, gain = 3),
        101L -> at(8000, 4, b = 9, ch = 1, nseg = 4, gain = 1), // fresh
        // 2 kHz downsample of history 1: drops cross-rate
        102L -> at(2000, 1, b = 1, ch = 2, nseg = 5, gain = 1),
        // 700 Hz: derived segFrames 45 < 65 → NULL → kept by contract
        103L -> operators.Multimodal.encodeWav(1, 700, 1400, (c, f) => u(0)(c, f)),
        104L -> "junk".getBytes("UTF-8"))
      import s.implicits._
      val idxDir = Queries.scratchPath(s, "graft-audidxms-oracle")
      operators.Multimodal.audioSegmentHashIndexMs(
        history.toDF("clip_id", "payload"), "clip_id", "payload", msPerSeg = 65)
        .write.mode("overwrite").parquet(idxDir)
      operators.Multimodal.dedupAudioAgainstIndexMs(
        increment.toDF("clip_id", "payload"), "clip_id", "payload",
        s.read.parquet(idxDir), msPerSeg = 65, minFrac = 0.5)
        .select(col("clip_id"),
          operators.Multimodal.mediaKind(col("payload")).as("kind"))
        .transform(Queries.sortedSmall(_, "clip_id"))
    })

  val all: Seq[Queries.Q] =
    Seq(qG711Stats, qAudioNearDupOffset, qGifAnimStats, qVideoShotFrames,
      qIncrementalMediaCuration, qMediaCurationLineage, qAudioResamplePairs,
      qAudioResampleDedup, qIncrementalAudioResample)
}
