package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Importance, Similarity, TextAnalysis}
import graft.util.Jobs

/** Second pipeline-query wave — corpus-profiling surfaces over the
  * operators the first wave built: near-dup cluster size distribution
  * (the dedup report a curation run actually reads), canonical text
  * normalization + fingerprint, per-source share with cumulative
  * concentration, token-length distribution, and IVF cell-balance
  * audit (the quantizer-health number that decides whether ANN probes
  * parallelize).
  *
  * All queries follow the [[Queries]] oracle-exactness rules; doubles
  * only ever arise from bigint/bigint or identical cosine dags both
  * engines evaluate bit-equally.
  */
object PipelineQueries2 {

  // ------------------------------------ near-dup cluster size profile
  // The dedup REPORT: minhash near-dup pairs (identical pipeline +
  // parameters as p_minhash_near_dup_pairs) → connected components →
  // cluster sizes → how many clusters of each size. This is the
  // number a curation run watches over time — a fattening tail means
  // boilerplate is flooding the corpus. Oracle recomputes the whole
  // pipeline with the shared CTEs + recursive min-reachability CC.
  // Scale: everything downstream of the pair join runs on (doc_id,
  // group_id) longs — the size histogram is two keyed aggregations of
  // a vanishingly small edge set, so the cost IS the pair generation.
  private val qDupGroupSizes = Queries.Q(
    "p_dup_group_sizes",
    Some(s"""
      WITH RECURSIVE ${OracleSql.minhashPairs()},
      ${OracleSql.closure("pairs", "id_a", "id_b")},
      comp AS (SELECT node, MIN(r) AS group_id FROM reach GROUP BY node),
      sizes AS (SELECT group_id, COUNT(*) AS group_size FROM comp GROUP BY group_id)
      SELECT CAST(group_size AS BIGINT) AS group_size,
             COUNT(*) AS n_groups
      FROM sizes GROUP BY group_size ORDER BY group_size"""),
    (s, dir) =>
      Graph.connectedComponents(
        Dedup.nearDupPairsShingled(Tables(s, dir).documents, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5),
        "id_a", "id_b")
        .groupBy("component").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .transform(Queries.sortedSmall(_, "group_size")))

  // ------------------------------ canonical normalization fingerprint
  // normalize → md5 fingerprint, the dedup key two visually-identical
  // crawls agree on. Value-checks the normalized text itself (not just
  // the hash) on a bounded slice so a normalization drift is visible
  // in the diff, not hidden behind md5.
  private val qTextNormalize = Queries.Q(
    "p_text_normalize",
    Some("""
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
      FROM documents
      WHERE doc_id < 200
      ORDER BY doc_id"""),
    (s, dir) =>
      Tables(s, dir).documents
        .filter(col("doc_id") < 200)
        .select(
          col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"),
          md5(TextAnalysis.normalizeText(col("text"))).as("fingerprint"))
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ----------------------------- per-source share and concentration
  // Source mix report: per-source doc count, share of corpus, and
  // cumulative share in descending-count order (the concentration
  // curve — "the top k sources are X% of the data" is the first
  // question asked of any crawl mix). The window runs over the
  // 20-row aggregate, never the corpus; the explicit ROWS frame keeps
  // both engines on the identical running sum.
  private val qSourceShare = Queries.Q(
    "p_source_share",
    Some("""
      WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      t AS (SELECT SUM(n_docs) AS total FROM s)
      SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
             CAST(SUM(n_docs) OVER (ORDER BY n_docs DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(total AS DOUBLE) AS cum_share
      FROM s CROSS JOIN t
      ORDER BY n_docs DESC, source"""),
    (s, dir) => {
      val bySource = Tables(s, dir).documents
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val total = bySource.agg(sum(col("n_docs")).as("total"))
      val w = Window.orderBy(col("n_docs").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bySource.crossJoin(broadcast(total))
        .select(
          col("source"), col("n_docs"),
          (col("n_docs").cast("double") / col("total").cast("double")).as("share"),
          (sum(col("n_docs")).over(w).cast("double") / col("total").cast("double"))
            .as("cum_share"))
        .transform(Queries.sortedSmallBy(_, col("n_docs").desc, col("source")))
    })

  // ----------------------------------- token-length distribution
  // Token length histogram over the whole corpus — the quick shape
  // check for tokenizer sanity (a spike at 1 means punctuation is
  // leaking; a fat tail means concatenated garbage). Explode + one
  // keyed count: integer-only output.
  private val qTokenLenHist = Queries.Q(
    "p_token_len_hist",
    Some("""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      SELECT CAST(length(token) AS BIGINT) AS token_len,
             COUNT(*) AS n_tokens
      FROM tok
      WHERE token <> ''
      GROUP BY 1
      ORDER BY token_len"""),
    (s, dir) =>
      Tables(s, dir).documents
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(length(col("token")).cast("long").as("token_len"))
        .agg(count(lit(1)).as("n_tokens"))
        .transform(Queries.sortedSmall(_, "token_len")))

  // --------------------------------------- IVF cell-balance audit
  // Population of every quantizer cell under the same deterministic
  // subset quantizer p_ivf_topk probes (centroids = vec_id < 16).
  // THE health metric for the IVF path: nProbe/nCells cost math
  // assumes roughly-even cells, and a flooded cell is exactly the
  // skew that serializes the probe join. Same struct-min argmax (ties:
  // highest cosine, then smallest centroid id) as ivfTopK/assignCells,
  // so the audit describes precisely the cells the query path uses.
  private val qCellSizes = Queries.Q(
    "p_ivf_cell_sizes",
    Some("""
      WITH c AS (SELECT vec_id AS cent, embedding AS cv FROM embeddings WHERE vec_id < 16),
      a AS (SELECT e.vec_id, c.cent,
              list_sum(list_transform(list_zip(e.embedding, c.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
            FROM embeddings e CROSS JOIN c),
      r AS (SELECT vec_id, cent,
              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent) AS rn
            FROM a)
      SELECT cent AS cell, COUNT(*) AS n_vectors
      FROM r WHERE rn = 1
      GROUP BY cell
      ORDER BY cell"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.assignCells(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 16), "vec_id", "embedding")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"))
        .transform(Queries.sortedSmall(_, "cell"))
    })

  // ----------------------------------- AVI frame sampling under oracle
  // End-to-end video path: 12 uncompressed BI_RGB AVI containers
  // (alternating bottom-up / top-down row order) encoded in-query with
  // formulaic pixels, every 2nd frame sampled, per-frame mean + md5 of
  // the canonical RGB hex dump. The oracle never touches a container —
  // it predicts every pixel byte arithmetically from the same formula,
  // so one wrong header field, row flip, BGR swap, or padding byte
  // fails the hash. Same technique as p_png_pixel_stats.
  private val qAviFrameStats = Queries.Q(
    "p_avi_frame_stats",
    Some("""
      WITH dims AS (SELECT i, 2 + (i % 4) AS w, 2 + (i % 3) AS h, 3 + (i % 3) AS nf
                    FROM generate_series(0, 11) t(i)),
      fr AS (SELECT i, w, h, unnest(generate_series(0, nf - 1, 2)) AS f FROM dims),
      ys AS (SELECT i, f, w, h, unnest(generate_series(0, h - 1)) AS y FROM fr),
      xs AS (SELECT i, f, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM ys),
      cs AS (SELECT i, f, y, x, unnest(generate_series(0, 2)) AS c FROM xs),
      v AS (SELECT i, f, y, x, c, (x*3 + y*5 + c*7 + f*11 + i*13) % 256 AS v FROM cs),
      agg AS (SELECT i, f,
                md5(string_agg(printf('%02x', v), '' ORDER BY y, x, c)) AS frame_md5,
                CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_val
              FROM v GROUP BY i, f)
      SELECT CAST(d.i AS BIGINT) AS video_id, CAST(a.f AS BIGINT) AS frame_idx,
             CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
             a.mean_val, a.frame_md5
      FROM dims d JOIN agg a ON a.i = d.i
      ORDER BY video_id, frame_idx"""),
    (s, dir) => {
      val vids: Seq[(Long, Array[Byte])] = (0 until 12).map { i =>
        val (w, h, nf) = (2 + i % 4, 2 + i % 3, 3 + i % 3)
        (i.toLong, operators.Multimodal.encodeAvi(w, h, nf,
          (f, x, y, c) => (x * 3 + y * 5 + c * 7 + f * 11 + i * 13) % 256,
          topDown = i % 2 == 1))
      }
      import s.implicits._
      vids.toDF("video_id", "payload")
        .select(
          col("video_id"), col("payload"),
          operators.Multimodal.videoMeta(col("payload")).as("__m"),
          posexplode(operators.Multimodal.frameSample(col("payload"), 2))
            .as(Seq("__p", "__s")))
        .select(
          col("video_id"),
          col("__s.frame_idx").as("frame_idx"),
          col("__m.width").cast("long").as("width"),
          col("__m.height").cast("long").as("height"),
          col("__s.mean").as("mean_val"),
          md5(lower(hex(operators.Multimodal.videoFramePixels(
            col("payload"), col("__s.frame_idx"))))).as("frame_md5"))
        .transform(Queries.sortedSmall(_, "video_id", "frame_idx"))
    })

  // ------------------------------------- semantic dedup (embeddings)
  // Corpus-level embedding dedup OUTPUT: sign-LSH bucketed cosine
  // pairs (identical parameters to p_embedding_near_dup, so the pair
  // stage is cross-checked by that query) → connected components →
  // keep the smallest-id representative per cluster. The semantic
  // twin of p_near_dup_dedup — catches near-dups that share meaning
  // but not surface n-grams. Oracle recomputes every stage: bucket
  // arithmetic, the identical cosine dag, recursive min-reachability
  // CC, NOT IN.
  private val qSemanticDedup = Queries.Q(
    "p_semantic_dedup",
    Some(s"""
      WITH RECURSIVE e AS (SELECT vec_id, embedding, ${OracleSql.signBucket} AS bucket FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.35),
      ${OracleSql.closure("pairs", "id_a", "id_b")},
      ${OracleSql.losers()}
      SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
      WHERE vec_id NOT IN (SELECT node FROM losers)
      ORDER BY vec_id"""),
    (s, dir) =>
      Dedup.dedupEmbeddingNearDups(
        Tables(s, dir).embeddings, "vec_id", "embedding",
        signBits = 8, threshold = 0.35)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .transform(Queries.sortedSmall(_, "vec_id")))

  // ------------------------------- decode → resize under oracle
  // The model-input normalization pipeline end to end: 24 formulaic
  // PNGs (all four channel layouts) decoded and nearest-neighbor
  // resized to a fixed 8×6 grid. The oracle never decodes anything —
  // it predicts every RESIZED byte from the pixel formula and the
  // floor mapping sx = x·w // 8, sy = y·h // 6, so one wrong stride,
  // rounding rule, or channel interleave fails the md5.
  private val qImageResize = Queries.Q(
    "p_image_resize",
    Some("""
      WITH dims AS (SELECT i, 1 + (i*7) % 16 AS w, 1 + (i*5) % 12 AS h,
                           CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS ch
                    FROM generate_series(0, 23) t(i)),
      ys AS (SELECT i, w, h, ch, unnest(generate_series(0, 5)) AS y FROM dims),
      xs AS (SELECT i, w, h, ch, y, unnest(generate_series(0, 7)) AS x FROM ys),
      cs AS (SELECT i, w, h, y, x, unnest(generate_series(0, ch - 1)) AS c FROM xs),
      v AS (SELECT i, y, x, c,
              (((x*w)//8)*7 + ((y*h)//6)*13 + c*31 + i*3) % 256 AS v
            FROM cs),
      md AS (SELECT i, md5(string_agg(printf('%02x', v), '' ORDER BY y, x, c)) AS resized_md5,
                    COUNT(*) AS n_bytes
             FROM v GROUP BY i)
      SELECT CAST(d.i AS BIGINT) AS img_id, CAST(d.ch AS BIGINT) AS channels,
             md.n_bytes, md.resized_md5
      FROM dims d JOIN md ON md.i = d.i
      ORDER BY img_id"""),
    (s, dir) => {
      val imgs: Seq[(Long, Array[Byte])] = (0 until 24).map { i =>
        val (w, h) = (1 + (i * 7) % 16, 1 + (i * 5) % 12)
        val ch = Seq(1, 3, 2, 4)(i % 4)
        (i.toLong, operators.Multimodal.encodePng(w, h, ch,
          (x, y, c) => (x * 7 + y * 13 + c * 31 + i * 3) % 256,
          y => (y + i) % 5))
      }
      import s.implicits._
      imgs.toDF("img_id", "payload")
        .select(
          col("img_id"),
          operators.Multimodal.imagePixels(col("payload")).as("__px"),
          operators.Multimodal.imagePixelStats(col("payload")).as("__st"))
        .select(
          col("img_id"),
          col("__st").getItem(2).cast("long").as("channels"),
          graft.functions.GraftFunctions.resizeNN(
            col("__px"),
            col("__st").getItem(0).cast("int"), col("__st").getItem(1).cast("int"),
            col("__st").getItem(2).cast("int"), lit(8), lit(6)).as("__r"))
        .select(
          col("img_id"), col("channels"),
          octet_length(col("__r")).cast("long").as("n_bytes"),
          md5(lower(hex(col("__r")))).as("resized_md5"))
        .transform(Queries.sortedSmall(_, "img_id"))
    })

  // ------------------------------- WAV PCM sample stats under oracle
  // Audio decode end to end: 10 PCM WAV containers (mono + stereo,
  // with an ignorable LIST chunk before 'data' so the oracle also
  // proves the decoder WALKS chunks instead of peeking fixed offsets)
  // → per-channel mean + RMS level. The oracle predicts every sample
  // from the formula; mean and RMS divide exact integer sums once
  // (one sqrt), so the doubles are bit-deterministic cross-engine.
  private val qWavSampleStats = Queries.Q(
    "p_wav_sample_stats",
    Some("""
      WITH dims AS (SELECT i, 1 + (i % 2) AS ch, 40 + i*7 AS nf, 8000 + i AS rate
                    FROM generate_series(0, 9) t(i)),
      fr AS (SELECT i, ch, nf, rate, unnest(generate_series(0, nf - 1)) AS t FROM dims),
      cs AS (SELECT i, rate, nf, t, unnest(generate_series(0, ch - 1)) AS c FROM fr),
      s AS (SELECT i, c, ((t*37 + c*101 + i*997) % 65536) - 32768 AS v FROM cs),
      agg AS (SELECT i, c,
                CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_v,
                sqrt(CAST(SUM(v*v) AS DOUBLE) / COUNT(*)) AS rms_v
              FROM s GROUP BY i, c)
      SELECT CAST(d.i AS BIGINT) AS wav_id, CAST(d.ch AS BIGINT) AS channels,
             CAST(d.rate AS BIGINT) AS sample_rate, CAST(d.nf AS BIGINT) AS n_frames,
             CAST(a.c AS BIGINT) AS channel, a.mean_v, a.rms_v
      FROM dims d JOIN agg a ON a.i = d.i
      ORDER BY wav_id, channel"""),
    (s, dir) => {
      val wavs: Seq[(Long, Array[Byte])] = (0 until 10).map { i =>
        val ch = 1 + (i % 2)
        (i.toLong, operators.Multimodal.encodeWav(ch, 8000 + i, 40 + i * 7,
          (c, t) => ((t * 37 + c * 101 + i * 997) % 65536) - 32768))
      }
      import s.implicits._
      wavs.toDF("wav_id", "payload")
        .select(col("wav_id"),
          operators.Multimodal.audioSampleStats(col("payload")).as("__st"))
        .select(
          col("wav_id"), col("__st"),
          posexplode(slice(col("__st"), lit(4), col("__st").getItem(0).cast("int")))
            .as(Seq("channel", "mean_v")))
        .select(
          col("wav_id"),
          col("__st").getItem(0).cast("long").as("channels"),
          col("__st").getItem(1).cast("long").as("sample_rate"),
          col("__st").getItem(2).cast("long").as("n_frames"),
          col("channel").cast("long").as("channel"),
          col("mean_v"),
          // rms for exploded channel c sits at 1-based 4 + channels + c
          element_at(col("__st"),
            (lit(4) + col("__st").getItem(0).cast("int") + col("channel")).cast("int"))
            .as("rms_v"))
        .transform(Queries.sortedSmall(_, "wav_id", "channel"))
    })

  // --------------------------------- BMP pixel decode under oracle
  // 16 uncompressed 24-bit BMPs (alternating bottom-up / top-down row
  // order) decoded to the shared RGB layout; oracle predicts every
  // byte from the pixel formula — a wrong row flip, BGR swap, or
  // padding byte fails the md5. Same technique as p_png_pixel_stats /
  // p_avi_frame_stats; with this, every pixel decoder is oracle-gated.
  private val qBmpPixelStats = Queries.Q(
    "p_bmp_pixel_stats",
    Some(s"""
      WITH dims AS (SELECT i, 1 + (i*5) % 13 AS w, 1 + (i*3) % 9 AS h
                    FROM generate_series(0, 15) t(i)),
      ys AS (SELECT i, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims),
      xs AS (SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM ys),
      cs AS (SELECT i, y, x, unnest(generate_series(0, 2)) AS c FROM xs),
      v AS (SELECT i, y, x, c, (x*11 + y*17 + c*29 + i*7) % 256 AS v FROM cs),
      ${OracleSql.pixelStats("v", channels = false)}"""),
    (s, dir) => {
      val imgs: Seq[(Long, Array[Byte])] = (0 until 16).map { i =>
        val (w, h) = (1 + (i * 5) % 13, 1 + (i * 3) % 9)
        (i.toLong, operators.Multimodal.encodeBmp(w, h,
          (x, y, c) => (x * 11 + y * 17 + c * 29 + i * 7) % 256,
          topDown = i % 2 == 1))
      }
      import s.implicits._
      imgs.toDF("img_id", "payload")
        .select(
          col("img_id"),
          operators.Multimodal.imagePixelStats(col("payload")).as("__st"),
          md5(lower(hex(operators.Multimodal.imagePixels(col("payload")))))
            .as("pixel_md5"))
        .select(
          col("img_id"),
          col("__st").getItem(0).cast("long").as("width"),
          col("__st").getItem(1).cast("long").as("height"),
          posexplode(slice(col("__st"), lit(4), lit(3))).as(Seq("channel", "mean_val")),
          col("pixel_md5"))
        .select(
          col("img_id"), col("width"), col("height"),
          col("channel").cast("long").as("channel"),
          col("mean_val"), col("pixel_md5"))
        .transform(Queries.sortedSmall(_, "img_id", "channel"))
    })

  // --------------------------------- GIF pixel decode under oracle
  // 12 paletted GIFs (half interlaced) through the full LZW decode;
  // the oracle never touches LZW — it predicts every RGB byte from
  // palette[index] arithmetic, so a wrong code width, dictionary
  // entry, sub-block seam, or interlace pass fails the md5. (The
  // dictionary-code/KwKwK/width-growth paths are additionally
  // cross-checked against the JDK's independent reader in GifSpec.)
  private val qGifPixelStats = Queries.Q(
    "p_gif_pixel_stats",
    Some(s"""
      WITH dims AS (SELECT i, 2 + (i*5) % 11 AS w, 2 + (i*3) % 7 AS h
                    FROM generate_series(0, 11) t(i)),
      ys AS (SELECT i, w, h, unnest(generate_series(0, h - 1)) AS y FROM dims),
      xs AS (SELECT i, w, h, y, unnest(generate_series(0, w - 1)) AS x FROM ys),
      px AS (SELECT i, y, x, (x*13 + y*29 + i*11) % 256 AS pi FROM xs),
      cs AS (SELECT i, y, x,
               unnest([0, 1, 2]) AS c,
               unnest([(pi*3) % 256, (pi*5 + 1) % 256, (pi*7 + 2) % 256]) AS v
             FROM px),
      ${OracleSql.pixelStats("cs", channels = false)}"""),
    (s, dir) => {
      val imgs: Seq[(Long, Array[Byte])] = (0 until 12).map { i =>
        val (w, h) = (2 + (i * 5) % 11, 2 + (i * 3) % 7)
        (i.toLong, operators.Multimodal.encodeGif(w, h,
          p => ((p * 3) % 256, (p * 5 + 1) % 256, (p * 7 + 2) % 256),
          (x, y) => (x * 13 + y * 29 + i * 11) % 256,
          interlaced = i % 2 == 1))
      }
      import s.implicits._
      imgs.toDF("img_id", "payload")
        .select(
          col("img_id"),
          operators.Multimodal.imagePixelStats(col("payload")).as("__st"),
          md5(lower(hex(operators.Multimodal.imagePixels(col("payload")))))
            .as("pixel_md5"))
        .select(
          col("img_id"),
          col("__st").getItem(0).cast("long").as("width"),
          col("__st").getItem(1).cast("long").as("height"),
          posexplode(slice(col("__st"), lit(4), lit(3))).as(Seq("channel", "mean_val")),
          col("pixel_md5"))
        .select(
          col("img_id"), col("width"), col("height"),
          col("channel").cast("long").as("channel"),
          col("mean_val"), col("pixel_md5"))
        .transform(Queries.sortedSmall(_, "img_id", "channel"))
    })

  // ------------------------------ mixed-media catalog (capstone)
  // The "media lake" shape end to end: ONE payload column holding
  // five different container formats, classified by magic number and
  // decoded by the format's own decoder — emitting one normalized
  // row per asset (kind, width/height OR channels/frames, content
  // md5). Exercises the mediaKind dispatch itself under the oracle
  // (it is spec-only everywhere else). Asset id i: kind = i mod 5 →
  // png / bmp / gif / wav / avi, each with formulaic content the
  // oracle reproduces arithmetically.
  private val qMediaCatalog = Queries.Q(
    "p_media_catalog",
    Some("""
      WITH ids AS (SELECT i, i % 5 AS k, 2 + (i*3) % 6 AS w, 2 + (i*5) % 5 AS h
                   FROM generate_series(0, 19) t(i)),
      -- png/bmp/gif: md5 of the RGB (png: ch from layout cycle) dump
      pix AS (SELECT i, k, w, h, y, x, c,
                CASE k
                  WHEN 0 THEN (x*7 + y*13 + c*31 + i*3) % 256
                  WHEN 1 THEN (x*11 + y*17 + c*29 + i*7) % 256
                  ELSE ((((x*13 + y*29 + i*11) % 256)
                         * (CASE c WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 7 END)
                         + (CASE c WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END)) % 256)
                END AS v
              FROM (SELECT i, k, w, h, unnest(generate_series(0, h - 1)) AS y FROM ids) ys,
                   LATERAL unnest(generate_series(0, w - 1)) u1(x),
                   LATERAL unnest(generate_series(0, 2)) u2(c)
              WHERE k IN (0, 1, 2)),
      img AS (SELECT i, md5(string_agg(printf('%02x', v), '' ORDER BY y, x, c)) AS content_md5
              FROM pix GROUP BY i),
      -- wav: md5 of the per-frame sample dump (mono, i16 two's complement as %04x of (v & 0xFFFF))
      wsamp AS (SELECT i, t, ((t*37 + i*997) % 65536) - 32768 AS v
                FROM (SELECT i, unnest(generate_series(0, 30 + i - 1)) AS t FROM ids WHERE k = 3)),
      wav AS (SELECT i, md5(string_agg(printf('%04x', CASE WHEN v < 0 THEN v + 65536 ELSE v END), '' ORDER BY t)) AS content_md5
              FROM wsamp GROUP BY i),
      -- avi: md5 of frame 0's RGB dump
      apix AS (SELECT i, y, x, c, (x*3 + y*5 + c*7 + i*13) % 256 AS v
               FROM (SELECT i, w, h, unnest(generate_series(0, h - 1)) AS y FROM ids WHERE k = 4) ys,
                    LATERAL unnest(generate_series(0, w - 1)) u1(x),
                    LATERAL unnest(generate_series(0, 2)) u2(c)),
      avi AS (SELECT i, md5(string_agg(printf('%02x', v), '' ORDER BY y, x, c)) AS content_md5
              FROM apix GROUP BY i),
      allmd AS (SELECT i, content_md5 FROM img
                UNION ALL SELECT i, content_md5 FROM wav
                UNION ALL SELECT i, content_md5 FROM avi)
      SELECT CAST(ids.i AS BIGINT) AS asset_id,
             CASE ids.k WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'gif'
                        WHEN 3 THEN 'wav' ELSE 'avi' END AS kind,
             CAST(ids.w AS BIGINT) AS width, CAST(ids.h AS BIGINT) AS height,
             allmd.content_md5
      FROM ids JOIN allmd ON allmd.i = ids.i
      ORDER BY asset_id"""),
    (s, dir) => {
      import operators.Multimodal
      val assets: Seq[(Long, Array[Byte])] = (0 until 20).map { i =>
        val (w, h) = (2 + (i * 3) % 6, 2 + (i * 5) % 5)
        val payload = i % 5 match {
          case 0 => Multimodal.encodePng(w, h, 3,
            (x, y, c) => (x * 7 + y * 13 + c * 31 + i * 3) % 256, y => (y + i) % 5)
          case 1 => Multimodal.encodeBmp(w, h,
            (x, y, c) => (x * 11 + y * 17 + c * 29 + i * 7) % 256, topDown = i % 2 == 0)
          case 2 => Multimodal.encodeGif(w, h,
            p => ((p * 3) % 256, (p * 5 + 1) % 256, (p * 7 + 2) % 256),
            (x, y) => (x * 13 + y * 29 + i * 11) % 256)
          case 3 => Multimodal.encodeWav(1, 8000, 30 + i,
            (_, t) => ((t * 37 + i * 997) % 65536) - 32768)
          case _ => Multimodal.encodeAvi(w, h, 2,
            (f, x, y, c) => (x * 3 + y * 5 + c * 7 + i * 13 + f * 111) % 256)
        }
        (i.toLong, payload)
      }
      import s.implicits._
      val kind = Multimodal.mediaKind(col("payload"))
      assets.toDF("asset_id", "payload")
        .select(col("asset_id"), col("payload"), kind.as("kind"),
          Multimodal.imagePixelStats(col("payload")).as("__ist"),
          Multimodal.videoMeta(col("payload")).as("__vm"))
        .select(
          col("asset_id"), col("kind"),
          when(col("kind").isin("png", "bmp", "gif"), col("__ist").getItem(0))
            .when(col("kind") === "avi", col("__vm").getField("width").cast("double"))
            // wav rows carry the id-derived (w, h) the oracle emits —
            // the catalog's fixed schema needs SOME dims per asset
            .otherwise((lit(2) + (col("asset_id") * 3) % 6).cast("double"))
            .cast("long").as("width"),
          when(col("kind").isin("png", "bmp", "gif"), col("__ist").getItem(1))
            .when(col("kind") === "avi", col("__vm").getField("height").cast("double"))
            .otherwise((lit(2) + (col("asset_id") * 5) % 5).cast("double"))
            .cast("long").as("height"),
          when(col("kind").isin("png", "bmp", "gif"),
            md5(lower(hex(Multimodal.imagePixels(col("payload"))))))
            .when(col("kind") === "avi",
              md5(lower(hex(Multimodal.videoFramePixels(col("payload"), lit(0))))))
            .otherwise(md5(lower(hex(
              graft.functions.GraftFunctions.wavSamples(col("payload"))))))
            .as("content_md5"))
        .transform(Queries.sortedSmall(_, "asset_id"))
    })

  // ------------------------------ salted aggregation under oracle
  // The skew toolkit on the correctness gate: Skew.saltedAggregate
  // spreads each key over 32 salt buckets (phase 1) and recombines
  // (phase 2) — the oracle is the PLAIN single-shuffle GROUP BY,
  // because exact equality with it is the operator's entire contract
  // (sums ride decimal, so regrouping cannot move a bit). At 100 TB
  // this is the hot-key path: the salt spreads a flooded key over 32
  // tasks by construction instead of waiting for AQE's re-plan.
  private val qSaltedAgg = Queries.Q(
    "p_salted_agg",
    Some("""
      SELECT l_returnflag,
             COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    (s, dir) =>
      operators.Skew.saltedAggregate(
        Tables(s, dir).lineitem
          .withColumn("__dec_qty", graft.util.Exact.dec(col("l_quantity"))),
        keyCols = Seq("l_returnflag"), spreadCol = "l_orderkey", buckets = 32,
        aggs = Seq(
          operators.Skew.Count("n_items"),
          operators.Skew.Sum("sum_qty", "__dec_qty"),
          operators.Skew.Min("min_price", "l_extendedprice"),
          operators.Skew.Max("max_price", "l_extendedprice")))
        .select(
          col("l_returnflag"), col("n_items"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("min_price"), col("max_price"))
        .transform(Queries.sortedSmall(_, "l_returnflag")))

  // ------------------------------ Jaro–Winkler fuzzy match (verify)
  // Entity-reconciliation verify over a BOUNDED candidate set (same
  // contract as p_editdist_verify: candidate generation belongs to
  // the LSH/blocking operators; the scalar here is the verify stage).
  // The native graft_jaro_winkler is bit-equal to DuckDB's
  // jaro_winkler_similarity — the hash match below is the proof, on
  // ~45k name pairs, not a sampled claim.
  private val qJaroWinkler = Queries.Q(
    "p_jaro_winkler_pairs",
    Some("""
      WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 300)
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             jaro_winkler_similarity(a.c_name, b.c_name) AS jw
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE jaro_winkler_similarity(a.c_name, b.c_name) >= 0.97
      ORDER BY id_a, id_b"""),
    (s, dir) => {
      val c = Tables(s, dir).customer.filter(col("c_custkey") <= 300)
      val a = c.select(col("c_custkey").as("id_a"), col("c_name").as("__na"))
      val b = c.select(col("c_custkey").as("id_b"), col("c_name").as("__nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jw", graft.functions.GraftFunctions.jaroWinkler(col("__na"), col("__nb")))
        .filter(col("jw") >= 0.97)
        .select("id_a", "id_b", "jw")
        .transform(Queries.sortedSmall(_, "id_a", "id_b"))
    })

  // ------------------------------ temperature-weighted source mixing
  // The multilingual-pretraining mixing recipe (p_s ∝ n_s^α, α=0.5):
  // small languages UP-sample (copies > 1), the dominant one
  // down-samples, expected total = targetRows. Oracle replays the
  // identical deterministic selection: sqrt is correctly rounded on
  // both engines (pow is not — see Sampling.temperatureMix), rates
  // are the same ((target·w)/W)/n association order, and the
  // per-(doc, copy) uniform is the same md5-prefix/2^32. Scale: one
  // strata-sized count agg + broadcast rates; the corpus never
  // shuffles.
  private val qTemperatureMix = Queries.Q(
    "p_temperature_mix",
    Some("""
      WITH n AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
      w AS (SELECT lang, n, sqrt(n) AS w FROM n),
      t AS (SELECT SUM(w) AS tw FROM w),
      r AS (SELECT lang, (CAST(5000 AS DOUBLE) * w / tw) / n AS rate FROM w, t),
      e AS (SELECT d.doc_id, d.lang, r.rate, g.cp
            FROM documents d JOIN r USING (lang)
            CROSS JOIN LATERAL (SELECT unnest(generate_series(0, CAST(ceil(r.rate) AS BIGINT) - 1)) AS cp) g)
      SELECT doc_id, lang, CAST(cp AS BIGINT) AS copy
      FROM e
      WHERE cp < floor(rate)
         OR CAST(list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
              i -> strpos('0123456789abcdef',
                     substr(md5('tmix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(cp AS VARCHAR)), i, 1)) - 1)),
              (h, c) -> h*16 + c) AS DOUBLE) / 4294967296.0 < rate - floor(rate)
      ORDER BY doc_id, copy"""),
    (s, dir) =>
      operators.Sampling.temperatureMix(
        Tables(s, dir).documents.select("doc_id", "lang"),
        "doc_id", "lang", "tmix", targetRows = 5000L)
        .select("doc_id", "lang", "copy")
        .transform(Queries.sortedSmall(_, "doc_id", "copy")))

  // ------------------------------------------ BPE corpus tokenization
  // The tokenizer APPLICATION side of BpeTrainer: encode every
  // document with a fixed merge table (the classic Sennrich 4-merge
  // example — literal on both sides so the oracle can replay it).
  // The Spark side runs the true iterative lowest-rank algorithm per
  // DISTINCT word (vocabulary ≪ corpus) and joins subwords back; the
  // oracle replays each merge as a sentinel-separated string replace
  // ('l|o|w|e|s|t' → … → 'low|est'), whose resume-after-replacement
  // semantics equal BPE's greedy left-to-right pass, and
  // rank-sequential replace equals the priority loop for this merge
  // set (each merge's output feeds only later-ranked pairs). Compared
  // as the space-joined subword string per document.
  private val qBpeEncode = Queries.Q(
    "p_bpe_encode",
    Some("""
      SELECT doc_id,
        array_to_string(list_transform(string_split(text, ' '), w ->
          replace(replace(replace(replace(replace(
            array_to_string(list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)), '|'),
          'e|s','es'), 'es|t','est'), 'l|o','lo'), 'lo|w','low'), '|', ' ')), ' ') AS bpe_str
      FROM documents
      ORDER BY doc_id"""),
    (s, dir) => {
      import graft.operators.BpeTrainer.Merge
      val merges = Seq(
        Merge(1, "e", "s", 0L), Merge(2, "es", "t", 0L),
        Merge(3, "l", "o", 0L), Merge(4, "lo", "w", 0L))
      graft.operators.BpeTrainer
        .encode(Tables(s, dir).documents, "doc_id", "text", merges)
        .select(col("doc_id"), array_join(col("bpe"), " ").as("bpe_str"))
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // -------------------------------- maximal duplicated token regions
  // The precise substring-dedup surface (Lee et al. shape): stride-1
  // 5-token window hashes → corpus-wide first-occurrence marking →
  // per-doc gaps-and-islands merge into maximal contiguous regions.
  // The oracle replays the identical pipeline with SQL window
  // functions (same md5 window text, same (doc, start) first-
  // occurrence order, same touch-merge rule). Scale: one md5-keyed
  // shuffle + a per-document window over marked starts only.
  private val qDupSpans = Queries.Q(
    "p_dup_spans",
    Some(s"""
      WITH ${OracleSql.dupSpanIslands}
      SELECT doc_id, CAST(MIN(st) AS BIGINT) AS span_start,
             CAST(MAX(e) AS BIGINT) AS span_end,
             CAST(MAX(e) - MIN(st) + 1 AS BIGINT) AS span_tokens
      FROM g2 GROUP BY doc_id, isl_id
      ORDER BY doc_id, span_start"""),
    (s, dir) =>
      Dedup.dupSpans(Tables(s, dir).documents, "doc_id", "text", k = 5)
        .transform(Queries.sortedSmall(_, "doc_id", "span_start")))

  // ------------------------------------- Bloom-pruned fact-dim join
  // Explicit Bloom pruning of a fact table against a selective dim
  // set (BloomPrune scaladoc): orders of high-balance BUILDING
  // customers. Bloom filters have no false negatives, so the pruned
  // join's RESULT equals the plain join — which is exactly what the
  // oracle checks (DuckDB runs the plain join; Spark runs the pruned
  // one; hash compare). Decimal sum via the Exact rules.
  private val qBloomPrunedJoin = Queries.Q(
    "p_bloom_pruned_join",
    Some("""
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
      FROM orders
      JOIN (SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000) c
        ON o_custkey = c_custkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val dim = t.customer
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
        .select(col("c_custkey").as("o_custkey"))
      operators.BloomPrune
        .prunedJoin(t.orders, dim, "o_custkey",
          expectedItems = 4096L, numBits = 65536L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_price"))
        .transform(Queries.sortedSmall(_, "o_orderpriority"))
    })

  // ------------------------------- duplicated-region REMOVAL output
  // The rewrite side of p_dup_spans: every document with its
  // duplicated regions excised (first occurrences kept), plus the
  // removed-token count. The oracle recomputes the spans pipeline,
  // expands covered positions, anti-joins token positions, and
  // re-joins the survivors in order — document text is single-spaced
  // (TESTDATA invariant), so re-joined tokens equal the original for
  // untouched docs.
  private val qRemoveDupSpans = Queries.Q(
    "p_remove_dup_spans",
    Some(s"""
      WITH ${OracleSql.dupSpanIslands},
      spans AS (SELECT doc_id, MIN(st) AS s, MAX(e) AS e2 FROM g2 GROUP BY doc_id, isl_id),
      cov AS (SELECT doc_id, unnest(generate_series(s, e2)) AS p FROM spans),
      tokpos AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) - 1 AS p FROM tok),
      kept AS (SELECT t.doc_id, t.tok, t.p
               FROM tokpos t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p),
      cnt AS (SELECT doc_id, COUNT(*) AS ncov FROM cov GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(k.clean_text, '') AS clean_text,
             CAST(coalesce(cnt.ncov, 0) AS BIGINT) AS removed_tokens
      FROM documents d
      LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
                 FROM kept GROUP BY doc_id) k USING (doc_id)
      LEFT JOIN cnt USING (doc_id)
      ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.removeDupSpans(
        Tables(s, dir).documents.select("doc_id", "text"), "doc_id", "text", k = 5)
        .select("doc_id", "clean_text", "removed_tokens")
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ----------------------------------------- sequence packing (LM batch)
  // Greedy fixed-budget packing, fully oracle-replayed: bucket
  // assignment is the library-standard salted md5 (pure function of
  // the id), in-bucket order is (n_tokens DESC, id), and the DuckDB
  // oracle replays the next-fit scan as a recursive CTE — a running
  // token cumsum that resets whenever adding the next item would
  // blow the 512 budget. OperatorsSpec additionally pins
  // budget/completeness/determinism/oversized-isolation semantics.
  private val qPackSequences = Queries.Q(
    "p_pack_sequences",
    Some("""
      WITH RECURSIVE t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
                 i -> strpos('0123456789abcdef', substr(md5('pack:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)),
                 (h, c) -> h*16 + c) % 8 AS bucket
        FROM documents),
      ord AS (SELECT doc_id, n_tokens, bucket,
                     row_number() OVER (PARTITION BY bucket ORDER BY n_tokens DESC, doc_id) AS rn
              FROM t),
      step AS (
        SELECT bucket, rn, doc_id, n_tokens,
               CAST(0 AS BIGINT) AS pl, n_tokens AS used
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN s.used + o.n_tokens > 512 THEN s.pl + 1 ELSE s.pl END,
               CASE WHEN s.used + o.n_tokens > 512 THEN o.n_tokens ELSE s.used + o.n_tokens END
        FROM step s JOIN ord o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
      SELECT doc_id, n_tokens,
             CAST(bucket * 4294967296 + pl AS BIGINT) AS pack_id
      FROM step
      ORDER BY doc_id"""),
    (s, dir) =>
      operators.Packing.packSequences(
        Tables(s, dir).documents
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 512L, numBuckets = 8)
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ----------------------------------- product-quantization ANN topk
  // The fourth ANN arm (brute / sign-LSH / IVF / PQ): 64-dim vectors
  // compress to 4 subspace codes against a fixed 16-codeword
  // codebook (sample vectors vec_id < 16 — the oracle-replayable
  // form, like p_ivf_topk's fixed centroids), queries rank the corpus
  // by the asymmetric-distance sum of per-subspace LUT probes. Every
  // distance is the element-order l2² fold, the argmin a struct-min,
  // and the ADC sum adds subspaces in fixed order — bit-identical on
  // both engines.
  private val qPqTopK = Queries.Q(
    "p_pq_topk",
    Some(s"""
      WITH cb AS (SELECT e.vec_id AS code, j.j AS subspace,
                         e.embedding[j.j*16+1 : j.j*16+16] AS subvec
                  FROM embeddings e CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j
                  WHERE e.vec_id < 16),
      cs AS (SELECT e.vec_id AS neighbor_id, j.j AS subspace,
                    e.embedding[j.j*16+1 : j.j*16+16] AS sv
             FROM embeddings e CROSS JOIN LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j),
      ed AS (SELECT cs.neighbor_id, cs.subspace, cb.code,
               list_sum(list_transform(list_zip(cs.sv, cb.subvec),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
             FROM cs JOIN cb USING (subspace)),
      enc AS (SELECT neighbor_id, subspace, (min({'d': d2, 'c': code})).c AS code
              FROM ed GROUP BY neighbor_id, subspace),
      qd AS (SELECT neighbor_id AS query_id, subspace, code, d2 FROM ed WHERE neighbor_id < 20),
      pair AS (SELECT q.query_id, e.neighbor_id,
                 SUM(CASE WHEN q.subspace = 0 THEN q.d2 END) +
                 SUM(CASE WHEN q.subspace = 1 THEN q.d2 END) +
                 SUM(CASE WHEN q.subspace = 2 THEN q.d2 END) +
                 SUM(CASE WHEN q.subspace = 3 THEN q.d2 END) AS approx_d2
               FROM enc e JOIN qd q ON q.subspace = e.subspace AND q.code = e.code
               WHERE q.query_id != e.neighbor_id
               GROUP BY q.query_id, e.neighbor_id)
      ${OracleSql.topK("approx_d2", "ASC", "pair")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val cb = Similarity.pqCodebookFrom(
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4)
      Similarity.pqTopK(
        emb.filter(col("vec_id") < 20), "vec_id",
        emb, "vec_id", "embedding", cb, m = 4, k = 10)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // --------------------------------- end-to-end curation decision log
  // One call composes the quality gate, exact dedup and near-dup
  // dedup into a per-document decision WITH reasons (Curation.report
  // scaladoc: auditability is the product). The oracle stitches the
  // three gates' existing CTE logic — quality formula, fingerprint
  // groups, and the recursive-CTE minhash+CC loser set — and checks
  // every flag and the final kept verdict per document.
  private val qCurationReport = Queries.Q(
    "p_curation_report",
    Some(s"""
      WITH RECURSIVE ${OracleSql.curationCtes("documents", "")}
      SELECT r.doc_id, CAST(r.n AS BIGINT) AS n_tokens,
             r.drop_reason IS NULL AS quality_keep, r.drop_reason,
             r.doc_id IN (SELECT doc_id FROM exl) AS exact_dup_loser,
             r.doc_id IN (SELECT node FROM losers) AS near_dup_loser,
             (r.drop_reason IS NULL AND r.doc_id NOT IN (SELECT doc_id FROM exl)
              AND r.doc_id NOT IN (SELECT node FROM losers)) AS kept
      FROM r ORDER BY doc_id"""),
    (s, dir) =>
      operators.Curation.report(Tables(s, dir).documents, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
        .transform(Queries.sortedSmall(_, "doc_id")))

  // ---------------------------------- incremental dedup vs an index
  // The growing-corpus shape: documents ≥ 400 arrive as a new crawl
  // increment and dedup against the HISTORY (documents < 400)
  // represented only by its persisted minhash index — banded bucket
  // join + signature-agreement verify, the history never re-read.
  // The oracle replays signatures, bands, the bucket cap, and the
  // position-agreement estimate for both sides.
  private val qIncrementalDedup = Queries.Q(
    "p_incremental_dedup",
    Some(s"""
      WITH ${OracleSql.minhashBands()},
      ob AS (SELECT doc_id, b.generate_series AS band,
               ${OracleSql.bandHash} AS bh, s
             FROM sig, generate_series(0, 3) b WHERE doc_id < 400),
      keepb AS (SELECT band, bh FROM ob GROUP BY band, bh HAVING COUNT(*) <= 1024),
      nb AS (SELECT doc_id, b.generate_series AS band,
               ${OracleSql.bandHash} AS bh, s
             FROM sig, generate_series(0, 3) b WHERE doc_id >= 400),
      cand AS (SELECT DISTINCT nb.doc_id AS new_id, nb.s AS sa, ob.s AS sb
               FROM nb JOIN ob USING (band, bh) JOIN keepb USING (band, bh)),
      dropped AS (SELECT DISTINCT new_id FROM cand
                  WHERE CAST(len(list_filter(generate_series(1, 12), i -> sa[i] = sb[i])) AS DOUBLE) / 12.0 >= 0.5)
      SELECT doc_id, lang, source FROM documents
      WHERE doc_id >= 400 AND doc_id NOT IN (SELECT new_id FROM dropped)
      ORDER BY doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val index = Dedup.minhashIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text", n = 3, k = 12)
      Dedup.dedupAgainstIndex(
        docs.filter(col("doc_id") >= 400), "doc_id", "text",
        index, n = 3, k = 12, rowsPerBand = 3, minAgree = 0.5)
        .select("doc_id", "lang", "source")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // --------------------------- DSIR importance selection (§2.9 north star)
  // Hashed-bigram importance scoring against a target slice (docs
  // whose features resemble English text get up-weighted) and the
  // deterministic resample that follows — the published DSIR recipe
  // re-expressed under the library's exactness rule: every oracle
  // surface is exact longs + single IEEE divisions (the floating
  // log-ratio estimator is spec-gated in ImportanceSpec instead; see
  // operators/Importance.scala scaladoc). Oracle replays the full
  // train→score→resample pipeline in SQL from the same md5 buckets.
  private val qDsirWeights = Queries.Q(
    "p_dsir_weights",
    Some(s"""
      WITH ${OracleSql.dsirCounts}
      SELECT bucket, tgt_cnt, raw_cnt,
             CAST(tgt_cnt + 1 AS DOUBLE) / (raw_cnt + 1) AS ratio
      FROM c ORDER BY ratio DESC, bucket LIMIT 20"""),
    (s, dir) =>
      Importance.targetAffinityCounts(
        Tables(s, dir).documents, "doc_id", "text",
        isTarget = col("lang") === "en", n = 2, dim = 512, salt = "dsir")
        .withColumn("ratio",
          (col("tgt_cnt") + 1).cast("double") / (col("raw_cnt") + 1))
        .orderBy(col("ratio").desc, col("bucket"))
        .limit(20))

  private val qDsirResample = Queries.Q(
    "p_dsir_resample",
    Some(s"""
      WITH ${OracleSql.dsirCounts},
      ds AS (SELECT b.doc_id,
               CAST(SUM(c.tgt_cnt) AS BIGINT) AS st,
               CAST(SUM(c.raw_cnt) AS BIGINT) AS sr
             FROM b JOIN c USING (bucket) GROUP BY 1),
      aff AS (SELECT d.doc_id, d.source,
                CAST(COALESCE(ds.st, 0) + 1 AS DOUBLE) / (COALESCE(ds.sr, 0) + 1) AS affinity
              FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id),
      u AS (SELECT *,
              CAST(list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
                     i -> strpos('0123456789abcdef',
                            substr(md5('dsir-keep:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)),
                     (h, c) -> h*16 + c) % 1000000 AS DOUBLE) / 1000000 AS uu
            FROM aff)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN uu < affinity / (affinity + 0.5) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             MAX(affinity) AS max_aff
      FROM u GROUP BY source ORDER BY source"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      // one shared superset frontier feeds both DSIR passes (r22 —
      // the reportV2 pattern): text shuffled once, not once per pass
      val frontier = Importance.affinityFrontier(
        docs, "doc_id", "text", isTarget = col("lang") === "en")
      val counts = Importance.targetAffinityCountsOver(
        frontier, "doc_id", "text", n = 2, dim = 512, salt = "dsir")
      Importance.scoreAffinityOver(docs, frontier, "doc_id", "text", counts,
          n = 2, dim = 512, salt = "dsir")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(Importance.keepFlag(col("doc_id"), col("affinity"),
            salt = "dsir-keep", c = 0.5), 1L).otherwise(0L)).as("n_kept"),
          max(col("affinity")).as("max_aff"))
        .transform(Queries.sortedSmall(_, "source"))
    })

  // --------------------------- hybrid retrieval: reciprocal-rank fusion
  // Lexical BM25 top-10 (terms spark/window/table — the p_bm25_topk
  // pipeline verbatim) fused with vector cosine top-10 (query vectors
  // 0/1/2 — the p_brute_topk pipeline verbatim) by RRF. The fused
  // score is two exactly-rounded IEEE divisions plus ONE fixed-order
  // addition, so the oracle hash-matches despite being floating (see
  // Search.rrfFuse). Terms pair with query vectors by position:
  // query 0 ≡ 'spark', 1 ≡ 'window', 2 ≡ 'table'.
  private val qHybridRrf = Queries.Q(
    "p_hybrid_rrf",
    Some(s"""
      WITH ${OracleSql.bm25Candidates},
      lex AS (SELECT CAST(CASE term WHEN 'spark' THEN 0 WHEN 'window' THEN 1 ELSE 2 END AS BIGINT) AS query_id,
                     doc_id, rank AS rank_lex FROM (
                SELECT a.term AS term, a.doc_id AS doc_id,
                       ${OracleSql.bm25Rank} AS rank
                FROM cand a JOIN cand b ON a.term = b.term
                GROUP BY a.term, a.doc_id)
              WHERE rank <= 10),
      q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
      sv AS (SELECT query_id, vec_id AS neighbor_id, ${OracleSql.cosine} AS sim
             FROM q CROSS JOIN embeddings
             WHERE query_id != vec_id),
      vecr AS (SELECT query_id, neighbor_id AS doc_id, CAST(rnk AS BIGINT) AS rank_vec FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM sv)
               WHERE rnk <= 10),
      fused AS (SELECT COALESCE(l.query_id, v.query_id) AS query_id,
                       COALESCE(l.doc_id, v.doc_id) AS doc_id,
                       COALESCE(CAST(1 AS DOUBLE) / (60 + l.rank_lex), 0)
                         + COALESCE(CAST(1 AS DOUBLE) / (60 + v.rank_vec), 0) AS rrf,
                       l.rank_lex, v.rank_vec
                FROM lex l FULL OUTER JOIN vecr v
                  ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
      SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, rrf, rank_lex, rank_vec FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
        FROM fused)
      WHERE rnk <= 10
      ORDER BY query_id, rank"""),
    (s, dir) => {
      val t = Tables(s, dir)
      val lex = graft.operators.Search.bm25TopK(
        t.documents, "doc_id", "text",
        Seq("spark", "window", "table"), k = 10, prefilterC = 50)
        .select(
          when(col("term") === "spark", 0L)
            .when(col("term") === "window", 1L).otherwise(2L).as("query_id"),
          col("doc_id"), col("rank"))
      val vec = Similarity.bruteForceTopK(
        t.embeddings.filter(col("vec_id") < 3), "vec_id",
        t.embeddings, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Search.rrfFuse(lex, vec, k0 = 60, k = 10)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // ------------------- exact-k weighted sample without replacement
  // A-ES (Efraimidis–Spirakis) with integer weights: rank by the MIN
  // of w salted-md5 draws — distributionally identical to the
  // u^(1/w) key but every comparison is an md5 string, so the oracle
  // is exact with no pow/ln in sight (see Sampling.weightedSampleK).
  // Weight = length-derived 1..8 (longer docs sampled proportionally
  // more — the "keep more of the substantive documents" mix knob).
  private val qWeightedSample = Queries.Q(
    "p_weighted_sample",
    Some("""
      WITH wt AS (SELECT doc_id, least(greatest(n_chars // 100, 1), 8) AS w FROM documents),
      d AS (SELECT doc_id,
              list_min(list_transform(generate_series(0, w - 1),
                c -> md5('ws42:' || CAST(doc_id AS VARCHAR) || ':' || CAST(c AS VARCHAR)))) AS min_draw
            FROM wt)
      SELECT doc_id, min_draw FROM d ORDER BY min_draw, doc_id LIMIT 25"""),
    (s, dir) =>
      operators.Sampling.weightedSampleK(
        Tables(s, dir).documents, "doc_id",
        weightCol = expr("n_chars div 100"), k = 25, salt = "ws42",
        maxWeight = 8))

  // ------------------- embedding-space train/test contamination
  // The semantic complement of p_split_contamination: cross-split
  // pairs whose cosine reaches the threshold, via a sign-LSH bucket
  // equi-join + fused cosine verify. The same md5 split buckets as
  // the n-gram variant; τ=0.35 because the synthetic embeddings are
  // near-orthogonal (max cross-split cosine ≈ 0.41) — the parameter
  // is caller policy, the machinery under test is the bucketed join.
  private val qSemanticContamination = Queries.Q(
    "p_semantic_contamination",
    Some(s"""
      WITH e AS (SELECT vec_id, embedding, ${OracleSql.signBucket} AS bucket,
                   list_reduce(list_prepend(0, list_transform(generate_series(1, 8),
                     i -> strpos('0123456789abcdef', substr(md5('split25:' || CAST(vec_id AS VARCHAR)), i, 1)) - 1)),
                     (h, c) -> h*16 + c) % 100 AS sb
                 FROM embeddings),
      tr AS (SELECT vec_id, embedding, bucket FROM e WHERE sb < 80),
      te AS (SELECT vec_id, embedding AS qv, bucket FROM e WHERE sb >= 90),
      p AS (SELECT te.vec_id AS test_id, tr.vec_id AS train_id,
              ${OracleSql.cosine} AS sim
            FROM te JOIN tr USING (bucket))
      SELECT test_id, train_id, sim FROM p
      WHERE sim >= 0.35
      ORDER BY test_id, train_id"""),
    (s, dir) => {
      val e = Tables(s, dir).embeddings.withColumn("__sb",
        operators.Sampling.hashBucket(col("vec_id"), "split25", 100))
      Similarity.semanticContamination(
        e.filter(col("__sb") < 80), "vec_id",
        e.filter(col("__sb") >= 90), "vec_id",
        "embedding", signBits = 8, threshold = 0.35)
        .transform(Queries.sortedSmall(_, "test_id", "train_id"))
    })

  // ----------------------------- IVF-PQ ANN (the production index shape)
  // Coarse cosine quantizer prunes to nProbe=2 cells (the p_ivf_topk
  // machinery verbatim), PQ ADC ranks inside them (the p_pq_topk
  // machinery verbatim) — candidates shrink ~nProbe/nCells AND each
  // costs m map probes. Oracle composes both pipelines' CTEs; each
  // neighbor has exactly one cell so the probe join matches at most
  // once per (query, neighbor).
  private val qIvfPqTopK = Queries.Q(
    "p_ivfpq_topk",
    Some(s"""
      WITH ${OracleSql.ivfPqCtes}
      ${OracleSql.topK("approx_d2", "ASC", "pair")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val cb = Similarity.pqCodebookFrom(
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4)
      Similarity.ivfPqTopK(
        emb.filter(col("vec_id") < 20), "vec_id",
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        cb, m = 4, k = 10, nProbe = 2)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // -------------------------- IVF-PQ + exact refine (the serving pair)
  // The ADC candidate stage keeps the toy deterministic quantizer the
  // other IVF-PQ oracles use; the refine stage re-scores its top-40
  // candidates with the EXACT L2 (same sqrt-of-ordered-double-fold the
  // brute-force oracle replays), so the whole query is value-exact.
  // Semantics under test: rank is by exact distance, ADC order only
  // selects the candidate set — near-dup families whose PQ codes
  // collapse re-rank correctly here (the measured failure mode of the
  // un-refined index on family-heavy corpora).
  private val qIvfPqRefined = Queries.Q(
    "p_ivfpq_refined",
    Some(s"""
      WITH ${OracleSql.ivfPqCtes},
      cand AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id) AS rnk
                 FROM pair)
               WHERE rnk <= 40),
      ex AS (SELECT c.query_id, c.neighbor_id,
               sqrt(list_sum(list_transform(list_zip(q.embedding, e.embedding),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))) AS dist
             FROM cand c
             JOIN embeddings q ON q.vec_id = c.query_id
             JOIN embeddings e ON e.vec_id = c.neighbor_id)
      ${OracleSql.topK("dist", "ASC", "ex")}"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val cb = Similarity.pqCodebookFrom(
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4)
      Similarity.ivfPqTopKRefined(
        emb.filter(col("vec_id") < 20), "vec_id",
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        cb, m = 4, k = 10, nProbe = 2, refine = 40)
        .transform(Queries.sortedSmall(_, "query_id", "rank"))
    })

  // -------------------------- IVF-PQ recall audit (vs exact L2 top-k)
  // The same honest-drop contract as p_lsh_recall_audit: how much of
  // each query's EXACT L2 top-10 the compressed, cell-pruned index
  // recovers. Both rankings and the per-query hit counts are
  // deterministic; recall is one exact division of longs.
  private val qIvfPqRecallAudit = Queries.Q(
    "p_ivfpq_recall_audit",
    Some(s"""
      WITH ${OracleSql.ivfPqCtes},
      ivfpq AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id) AS rnk
                  FROM pair)
                WHERE rnk <= 10),
      bs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               sqrt(list_sum(list_transform(list_zip(q.embedding, e.embedding),
                 x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))) AS dist
             FROM embeddings q CROSS JOIN embeddings e
             WHERE q.vec_id < 20 AND q.vec_id != e.vec_id),
      brute AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rnk
                  FROM bs)
                WHERE rnk <= 10)
      SELECT b.query_id,
             CAST(COUNT(*) AS BIGINT) AS n_brute,
             CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
      FROM brute b LEFT JOIN ivfpq i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY b.query_id ORDER BY b.query_id"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val probes = emb.filter(col("vec_id") < 20)
      val cb = Similarity.pqCodebookFrom(
        emb.filter(col("vec_id") < 16), "vec_id", "embedding", m = 4)
      val brute = Similarity.bruteForceTopKL2(
        probes, "vec_id", emb, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hits = Similarity.ivfPqTopK(
        probes, "vec_id", emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        cb, m = 4, k = 10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      brute
        .join(hits, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(
          count(lit(1)).as("n_brute"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
        .select(
          col("query_id"), col("n_brute"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_brute")).as("recall"))
        .transform(Queries.sortedSmall(_, "query_id"))
    })

  // ----------------- embedding outlier pruning (prototypicality gate)
  // SemDeDup-family curation: flag the 10% of each semantic cell
  // farthest from its centroid. Rank-based (not z-score) so every
  // comparison is between per-row deterministic values — the flagged
  // set is oracle-exact with no variadic float sum anywhere.
  private val qEmbeddingOutliers = Queries.Q(
    "p_embedding_outliers",
    Some("""
      WITH ct AS (SELECT vec_id AS cent, embedding AS cv FROM embeddings WHERE vec_id < 16),
      ca AS (SELECT e.vec_id, ct.cent,
               list_sum(list_transform(list_zip(e.embedding, ct.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(ct.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
             FROM embeddings e CROSS JOIN ct),
      cell AS (SELECT vec_id, (min({'nc': -ccos, 'cent': cent})).cent AS cell FROM ca GROUP BY vec_id),
      d AS (SELECT e.vec_id AS id, cell.cell,
              sqrt(list_sum(list_transform(list_zip(e.embedding, c2.cv),
                x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))) AS dist
            FROM embeddings e
            JOIN cell ON cell.vec_id = e.vec_id
            JOIN ct c2 ON c2.cent = cell.cell),
      r AS (SELECT id, cell, dist,
              row_number() OVER (PARTITION BY cell ORDER BY dist DESC, id) AS rn,
              COUNT(*) OVER (PARTITION BY cell) AS nc
            FROM d)
      SELECT id, cell, dist, CAST(nc AS BIGINT) AS n_cell,
             rn <= CAST(ceil(nc * 0.1) AS BIGINT) AS outlier
      FROM r ORDER BY id"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.embeddingOutliers(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        fraction = 0.1)
        .transform(Queries.sortedSmall(_, "id"))
    })

  // ------------------- curation decision log v2 (all five gate families)
  // The full modern stack in ONE auditable log: quality heuristics,
  // exact dedup, near-dup dedup (p_curation_report's gates) PLUS the
  // round-12 importance gate (DSIR affinity ≥ 0.435 — the corpus
  // median, so the gate genuinely splits) and the prototypicality
  // gate (farthest 10% of each embedding cell). Oracle composes the
  // factored curation CTEs with the DSIR and outlier pipelines.
  private val qCurationV2 = Queries.Q(
    "p_curation_v2",
    Some(s"""
      WITH RECURSIVE ${OracleSql.curationV2Ctes}
      SELECT r.doc_id, CAST(r.n AS BIGINT) AS n_tokens,
             r.drop_reason IS NULL AS quality_keep, r.drop_reason,
             r.doc_id IN (SELECT doc_id FROM exl) AS exact_dup_loser,
             r.doc_id IN (SELECT node FROM losers) AS near_dup_loser,
             daff.affinity,
             r.doc_id IN (SELECT id FROM ofl) AS embedding_outlier,
             (daff.affinity >= 0.435 AND daff.sum_raw > 0) AS affinity_keep,
             (r.drop_reason IS NULL AND r.doc_id NOT IN (SELECT doc_id FROM exl)
              AND r.doc_id NOT IN (SELECT node FROM losers)
              AND daff.affinity >= 0.435 AND daff.sum_raw > 0
              AND r.doc_id NOT IN (SELECT id FROM ofl)) AS kept
      FROM r JOIN daff ON daff.doc_id = r.doc_id
      ORDER BY r.doc_id"""),
    (s, dir) => {
      val tbl = Tables(s, dir)
      operators.Curation.reportV2(
        tbl.documents, "doc_id", "text",
        tbl.embeddings, "vec_id", "embedding",
        tbl.embeddings.filter(col("vec_id") < 16), "vec_id", "embedding",
        isTarget = col("lang") === "en",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
        dsirDim = 512, dsirSalt = "dsir", minAffinity = 0.435,
        outlierFraction = 0.1)
        .select("doc_id", "n_tokens", "quality_keep", "drop_reason",
          "exact_dup_loser", "near_dup_loser", "affinity",
          "embedding_outlier", "affinity_keep", "kept")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // ------------------------- cluster-balanced subsample (SemDeDup-ish)
  // The semantic-diversity selection step: nearest-centroid cells
  // (same argmax the IVF index and p_ivf_cell_sizes audit) capped at
  // an exact-k uniform draw per cell (same md5 rank p_uniform_sample
  // replays). Dominant topics capped, tail topics kept whole. The
  // oracle composes those two queries' proven CTEs verbatim, so a
  // drift in EITHER building block fails this query too.
  private val qCellBalancedSample = Queries.Q(
    "p_cell_balanced_sample",
    Some("""
      WITH c AS (SELECT vec_id AS cent, embedding AS cv FROM embeddings WHERE vec_id < 16),
      a AS (SELECT e.vec_id, c.cent,
              list_sum(list_transform(list_zip(e.embedding, c.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS ccos
            FROM embeddings e CROSS JOIN c),
      cell AS (SELECT vec_id AS id, cent AS cell FROM (
                 SELECT vec_id, cent,
                        row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent) AS rn
                 FROM a) WHERE rn = 1),
      pick AS (SELECT id, cell FROM (
                 SELECT id, cell,
                        row_number() OVER (PARTITION BY cell
                          ORDER BY md5('cbs7:' || CAST(id AS VARCHAR)), CAST(id AS VARCHAR)) AS rn
                 FROM cell) WHERE rn <= 25)
      SELECT id, cell FROM pick ORDER BY id"""),
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.cellBalancedSample(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        perCellK = 25, salt = "cbs7")
        .transform(Queries.sortedSmall(_, "id"))
    })

  // ------------------------------ cross-run curation lineage (r16)
  // The provenance surface of a RECURRING pipeline: run N (a derived
  // "previous crawl": docs with id % 10 != 0, and id % 7 = 3 carrying
  // drifted text) vs run N+1 (the full corpus), each curated by the
  // full 3-gate report, composed with the snapshot content diff into
  // one per-doc row: content status, decision transition, and the
  // exact gates that flipped. The oracle instantiates the factored
  // curation CTE chain TWICE (suffixes _o/_n) over the two snapshots
  // — every gate formula is the proven p_curation_report logic, so a
  // drift in any gate fails this query too.
  private val qCurationLineage = Queries.Q(
    "p_curation_lineage",
    Some(s"""
      WITH RECURSIVE
      ${OracleSql.snapshots},
      ${OracleSql.curationCtes("old_docs", "_o")},
      ${OracleSql.curationCtes("new_docs", "_n")},
      ${OracleSql.reportCte("_o")},
      ${OracleSql.reportCte("_n")},
      fo AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS old_fp FROM old_docs),
      fn AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS new_fp FROM new_docs),
      d AS (SELECT COALESCE(fo.doc_id, fn.doc_id) AS doc_id,
              CASE WHEN fo.doc_id IS NULL THEN 'added'
                   WHEN fn.doc_id IS NULL THEN 'removed'
                   WHEN old_fp <> new_fp THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM fo FULL OUTER JOIN fn ON fo.doc_id = fn.doc_id)
      SELECT d.doc_id, d.status,
             CASE WHEN d.status = 'removed' THEN 'retired'
                  WHEN d.status = 'added' THEN
                    CASE WHEN rn.kept THEN 'entered_kept' ELSE 'entered_dropped' END
                  WHEN ro.kept AND rn.kept THEN 'still_kept'
                  WHEN NOT ro.kept AND NOT rn.kept THEN 'still_dropped'
                  WHEN NOT ro.kept AND rn.kept THEN 'promoted'
                  ELSE 'demoted' END AS transition,
             ro.kept AS old_kept, rn.kept AS new_kept,
             ro.drop_reason AS old_drop_reason, rn.drop_reason AS new_drop_reason,
             CASE WHEN d.status IN ('changed', 'unchanged') THEN
               -- array_to_string of an EMPTY list is NULL in DuckDB;
               -- the no-flip row must read '' like the Spark side
               COALESCE(array_to_string(list_concat(list_concat(
                 CASE WHEN ro.quality_keep IS DISTINCT FROM rn.quality_keep
                      THEN ['quality_keep'] ELSE [] END,
                 CASE WHEN ro.exact_dup_loser IS DISTINCT FROM rn.exact_dup_loser
                      THEN ['exact_dup_loser'] ELSE [] END),
                 CASE WHEN ro.near_dup_loser IS DISTINCT FROM rn.near_dup_loser
                      THEN ['near_dup_loser'] ELSE [] END), ','), '')
             ELSE '' END AS flipped_gates
      FROM d
      LEFT JOIN rep_o ro ON ro.doc_id = d.doc_id
      LEFT JOIN rep_n rn ON rn.doc_id = d.doc_id
      ORDER BY d.doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val oldDocs = docs
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 3,
            concat(col("text"), lit(" drifted crawl content here")))
            .otherwise(col("text")).as("text"))
      val newDocs = docs.select("doc_id", "text")
      def rep(dd: org.apache.spark.sql.DataFrame) =
        operators.Curation.report(dd, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
      // The two report chains are INDEPENDENT and each runs an eager
      // CC loop during construction — built concurrently
      // (Jobs.concurrently, guide §2.6); same reports, same rows.
      val Seq(ro, rn) = Jobs.concurrently(
        () => rep(oldDocs), () => rep(newDocs))
      operators.Curation.lineage(
        oldDocs, newDocs, ro, rn, "doc_id", "text")
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  // ------------------------------ incremental curation (r16)
  // The delta-proportional re-curation of a grown corpus: run N's
  // report + fingerprints + minhash index are the frozen history; the
  // unchanged documents of run N+1 (same id, same fingerprint) reuse
  // their old verdict row verbatim, and only the delta (added ids and
  // changed texts — here ids %10=0 and %7=3, the same derived-crawl
  // construction as p_curation_lineage) pays the three gates, judged
  // against history-union-delta. The oracle instantiates the factored
  // curation CTE chain over the OLD corpus (for the frozen verdicts
  // and the signature index) and over the DELTA (for the fresh
  // gates), plus the proven incremental-dedup band/agreement CTEs for
  // the history near-dup flag and a fingerprint join for the history
  // exact flag — every fragment is the same logic its standalone
  // query already hash-checks.
  private val qIncrementalCuration = Queries.Q(
    "p_incremental_curation",
    Some(s"""
      WITH RECURSIVE
      ${OracleSql.snapshots},
      ${OracleSql.curationCtes("old_docs", "_o")},
      ${OracleSql.reportCte("_o")},
      fo AS (SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM old_docs),
      fn AS (SELECT doc_id, text, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp FROM new_docs),
      reusedx AS (SELECT fn.doc_id FROM fn JOIN fo ON fo.doc_id = fn.doc_id AND fo.fp = fn.fp),
      delta_docs AS (SELECT doc_id, text FROM fn WHERE doc_id NOT IN (SELECT doc_id FROM reusedx)),
      ${OracleSql.curationCtes("delta_docs", "_d")},
      ob2 AS (SELECT doc_id, b.generate_series AS band,
                ${OracleSql.bandHash} AS bh, s
              FROM sig_o, generate_series(0, 3) b),
      keepb2 AS (SELECT band, bh FROM ob2 GROUP BY band, bh HAVING COUNT(*) <= 1024),
      nb2 AS (SELECT doc_id, b.generate_series AS band,
                ${OracleSql.bandHash} AS bh, s
              FROM sig_d, generate_series(0, 3) b),
      candh AS (SELECT DISTINCT nb2.doc_id AS new_id, nb2.s AS sa, ob2.s AS sb
                FROM nb2 JOIN ob2 USING (band, bh) JOIN keepb2 USING (band, bh)
                WHERE ob2.doc_id <> nb2.doc_id),
      ndh AS (SELECT DISTINCT new_id FROM candh
              WHERE CAST(len(list_filter(generate_series(1, 12), i -> sa[i] = sb[i])) AS DOUBLE) / 12.0 >= 0.5),
      exh AS (SELECT DISTINCT fn.doc_id FROM fn JOIN fo ON fo.fp = fn.fp AND fo.doc_id <> fn.doc_id
              WHERE fn.doc_id IN (SELECT doc_id FROM delta_docs))
      SELECT * FROM (
        SELECT ro.doc_id, CAST(r_o.n AS BIGINT) AS n_tokens, ro.quality_keep,
               ro.drop_reason, ro.exact_dup_loser, ro.near_dup_loser, ro.kept,
               TRUE AS reused
        FROM rep_o ro JOIN r_o ON r_o.doc_id = ro.doc_id
        WHERE ro.doc_id IN (SELECT doc_id FROM reusedx)
        UNION ALL
        SELECT r_d.doc_id, CAST(r_d.n AS BIGINT) AS n_tokens,
               r_d.drop_reason IS NULL AS quality_keep, r_d.drop_reason,
               (r_d.doc_id IN (SELECT doc_id FROM exl_d)
                OR r_d.doc_id IN (SELECT doc_id FROM exh)) AS exact_dup_loser,
               (r_d.doc_id IN (SELECT node FROM losers_d)
                OR r_d.doc_id IN (SELECT new_id FROM ndh)) AS near_dup_loser,
               (r_d.drop_reason IS NULL
                AND r_d.doc_id NOT IN (SELECT doc_id FROM exl_d)
                AND r_d.doc_id NOT IN (SELECT doc_id FROM exh)
                AND r_d.doc_id NOT IN (SELECT node FROM losers_d)
                AND r_d.doc_id NOT IN (SELECT new_id FROM ndh)) AS kept,
               FALSE AS reused
        FROM r_d)
      ORDER BY doc_id"""),
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val oldDocs = docs
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 3,
            concat(col("text"), lit(" drifted crawl content here")))
            .otherwise(col("text")).as("text"))
      val newDocs = docs.select("doc_id", "text")
      // The history artifacts are MATERIALIZED once (eager
      // localCheckpoint — rows identical, corpus-bounded narrow
      // tables): incrementalReport consumes oldReport from THREE
      // differently-pruned branches (reuse keys, reused rows, history
      // fingerprints), and the pruning divergence de-canonicalizes the
      // report subtree's exchanges so each branch re-executed the full
      // old-corpus curation chain (r21 probe: the query spent most of
      // its 12.9 s warm wall re-running report(old)). In production
      // these artifacts are persisted parquet between runs by
      // contract; the checkpoint models exactly that within the one
      // timed run.
      // Both artifacts are INDEPENDENT jobs — materialized
      // concurrently (Jobs.concurrently, guide §2.6) instead of
      // strictly serially; same artifacts, same rows.
      val Seq(oldRep, oldIdx) = Jobs.concurrently(
        () => operators.Curation.report(oldDocs, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
          .join(oldDocs.select(col("doc_id"),
            Dedup.fingerprint(col("text")).as("fingerprint")), Seq("doc_id"))
          .localCheckpoint(true),
        () => Dedup.minhashIndex(oldDocs, "doc_id", "text", n = 3, k = 12)
          .localCheckpoint(true))
      operators.Curation.incrementalReport(newDocs, "doc_id", "text",
        oldRep, oldIdx, n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
        minAgree = 0.5)
        .transform(Queries.sortedSmall(_, "doc_id"))
    })

  val all: Seq[Queries.Q] =
    Seq(qDupGroupSizes, qTextNormalize, qSourceShare, qTokenLenHist, qCellSizes,
      qAviFrameStats, qSemanticDedup, qImageResize, qWavSampleStats,
      qBmpPixelStats, qGifPixelStats, qMediaCatalog, qSaltedAgg, qJaroWinkler,
      qTemperatureMix, qBpeEncode, qDupSpans, qBloomPrunedJoin,
      qRemoveDupSpans, qPackSequences, qPqTopK, qCurationReport,
      qIncrementalDedup, qDsirWeights, qDsirResample, qHybridRrf,
      qWeightedSample, qSemanticContamination, qIvfPqTopK,
      qIvfPqRecallAudit, qIvfPqRefined, qEmbeddingOutliers, qCurationV2,
      qCellBalancedSample, qCurationLineage, qIncrementalCuration)
}
