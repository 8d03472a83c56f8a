package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Similarity}
import graft.util.{Session, StageStats}

/** Scale-stress harness for the dedup/ANN family (VERDICT r6 #2): the
  * 100 TB design claims rest on plan shape; this main turns them into
  * MEASUREMENTS by amplifying the sf0.1 corpus 10–50× with controlled
  * near-dup injection and timing the flagship operators at each scale,
  * with per-task skew stats from a listener ([[graft.util.StageStats]],
  * which also prints every stage's profile to stderr as it completes).
  *
  * Amplification is deterministic (no RNG) and content-controlled.
  * Copy i of each document (new id = id·scale + i):
  *  - i = 0 — the original, unchanged;
  *  - i % 3 ≠ 0 — NEAR-DUP: tokens at positions ≡ i (mod 29) get a
  *    per-copy marker (~3% of tokens → ~9% of 3-gram shingles →
  *    pairwise shingle-jaccard ≈ 0.8 within the copy family, above
  *    the 0.5 threshold) — so near-dup GROUP SIZE grows linearly with
  *    scale and pair/group output grows with its true quadratic
  *    cardinality, the honest stress for bucket caps and CC;
  *  - i % 3 = 0, i > 0 — DISTINCT: every token gets the copy-unique
  *    marker (zero token overlap with any other copy of the same
  *    doc) — corpus bulk that must NOT pair up.
  * Embedding copy i adds a deterministic ±5% per-dimension ramp, so
  * copy families stay mutual near-neighbors while distinct copies
  * spread.
  *
  * Ops run with EXACTLY the oracle-gated queries' parameters
  * (p_minhash_near_dup_pairs / p_dup_groups / p_simhash_near_dup /
  * p_ivf_topk). Output: one JSON line per (op, scale) with seconds,
  * rows, task count, max/median task ms — sub-quadratic growth and
  * bounded skew are the pass criteria, recorded in BASELINE.md. */
object ScaleStress {

  def amplifyDocs(docs: DataFrame, scale: Int): DataFrame =
    if (scale <= 1) docs.select("doc_id", "text")
    else docs
      .select(col("doc_id"), col("text"), explode(sequence(lit(0), lit(scale - 1))).as("i"))
      .select(
        (col("doc_id") * scale + col("i")).as("doc_id"),
        when(col("i") === 0, col("text"))
          .when(pmod(col("i"), lit(3)) =!= 0,
            concat_ws(" ", transform(split(col("text"), " "), (t, p) =>
              when(pmod(p, lit(29)) === pmod(col("i"), lit(29)),
                concat(t, lit("~"), col("i"))).otherwise(t))))
          .otherwise(
            concat_ws(" ", transform(split(col("text"), " "), t =>
              concat(t, lit("#"), col("i")))))
          .as("text"))

  def amplifyEmbeddings(emb: DataFrame, scale: Int): DataFrame =
    if (scale <= 1) emb.select("vec_id", "embedding")
    else emb
      .select(col("vec_id"), col("embedding"), explode(sequence(lit(0), lit(scale - 1))).as("i"))
      .select(
        (col("vec_id") * scale + col("i")).as("vec_id"),
        transform(col("embedding"), (x, p) =>
          (x * (lit(1.0f) +
            (pmod(col("i") * 31 + p, lit(11)) - lit(5)).cast("float") * lit(0.01f)))
            .cast("float")).as("embedding"))

  /** PERTURBED-copy amplification for recall audits (VERDICT r14 #5):
    * [[amplifyEmbeddings]]'s ±5% ramp keeps each copy family a tight
    * mutual-nearest-neighbor clump that PQ-encodes onto shared codes,
    * so un-refined ADC rank collapses to the id tie-break and the
    * recall audit measures tie-collapse (recall ≈ k/family) instead
    * of quantizer quality. This variant spreads copies with a ±30%
    * per-dimension deterministic pattern (coprime strides — no RNG,
    * ScaleStress stays Date/random-free) so each copy is its own
    * point in space: brute-force top-k is a non-degenerate mix,
    * PQ codes differ within a family, and recall-vs-nProbe measures
    * the quantizer. */
  def amplifyEmbeddingsPerturbed(emb: DataFrame, scale: Int): DataFrame =
    if (scale <= 1) emb.select("vec_id", "embedding")
    else emb
      .select(col("vec_id"), col("embedding"), explode(sequence(lit(0), lit(scale - 1))).as("i"))
      .select(
        (col("vec_id") * scale + col("i")).as("vec_id"),
        transform(col("embedding"), (x, p) =>
          (x * (lit(1.0f) +
            (pmod(col("i") * 37 + p * 13, lit(41)) - lit(20)).cast("float") * lit(0.015f)))
            .cast("float")).as("embedding"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // numeric args = scales; non-numeric args = op-name substrings to
    // run (iteration/exclusion aid, like Bench's query filter)
    val numeric = args.filter(_.forall(_.isDigit))
    val opFilter = args.filterNot(_.forall(_.isDigit)).toSeq
    val scales = if (numeric.nonEmpty) numeric.map(_.toInt).toSeq else Seq(1, 10, 50)
    // DATA-PROPORTIONAL defaults (VERDICT r20 #1 — "partitions must
    // scale with data, not cores"; AQE coalesces down but cannot
    // split an under-partitioned aggregate):
    //  - reduce partitions grow with the amplification factor. The
    //    r20 evidence: 32 (=cpus) partitions carried the ≤100× arms
    //    but AGGREGATE_OUT_OF_MEMORY'd curation_v3/media_curation at
    //    500×, where hand-set 128 shuffle partitions restored the
    //    per-task volume the 100× legs carried. Derivation:
    //    cpus × ceil(maxScale/125), capped ×32 — 32 at ≤125×, 128 at
    //    500×, matching both measured regimes.
    //  - shuffle codec flips lz4 → zstd when the scratch estimate
    //    outgrows the disk: measured ~19.5 GB lz4 scratch at 200×
    //    (≈ 0.1 GB × scale) and ENOSPC above ~79 GB at 500×; zstd
    //    halves the text-heavy spill bytes for ~10-20% CPU. The flip
    //    triggers when est. scratch > 40% of the scratch volume's
    //    free space, so it also adapts to a fuller disk.
    // A -Dspark.* property overrides either, or any static key such as
    // spark.memory.fraction (the 100× exact-PPJoin arm's, BASELINE.md).
    val maxScale = scales.max
    val derivedParts = Session.cpus * math.min(32, math.max(1, math.ceil(maxScale / 125.0).toInt))
    val estScratchGb = 0.1 * maxScale
    val usableGb = new java.io.File(sys.props("java.io.tmpdir")).getUsableSpace / 1e9
    val derivedCodec = if (estScratchGb > 0.4 * usableGb) "zstd" else "lz4"
    // scratch stays on disk: see graft.util.LocalScratch
    val spark = Session("graft-scale-stress", logLevel = "WARN", extras = Seq(
      "spark.sql.shuffle.partitions" -> derivedParts.toString,
      "spark.io.compression.codec" -> derivedCodec))
    System.err.println(
      s"[stress] maxScale=$maxScale shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
        f"codec=${spark.conf.get("spark.io.compression.codec")} (est scratch $estScratchGb%.0f GB, free ${usableGb.toInt} GB)")
    // every stage's line on stderr as it completes (crash-safe)
    val stats = new StageStats(printFromMs = 0)
    spark.sparkContext.addSparkListener(stats)

    val results = scala.collection.mutable.ArrayBuffer[String]()
    // an op body may publish op-specific JSON fields (e.g. the trained
    // IVF-PQ audit's recall) — appended to its line, then cleared
    var extraFields: String = ""
    def measure(op: String, scale: Int)(body: => Long): Unit = {
      if (opFilter.nonEmpty && !opFilter.exists(op.contains)) return
      // drop lingering localCheckpoint blocks so ops don't interfere
      Session.isolate(spark)
      val from = stats.mark
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      stats.settle()
      val w = stats.since(from)
      val line =
        f"""{"op":"$op","scale":$scale,"sec":$sec%.2f,"rows":$rows,"tasks":${w.tasks},""" +
          s""""max_task_ms":${w.maxMs},"med_task_ms":${w.medianMs},"max_stage_med_ms":${w.maxStageMedianMs}$extraFields}"""
      extraFields = ""
      println(line)
      results += line
    }

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")

    for (scale <- scales) {
      // MATERIALIZE the amplified corpora to parquet OUTSIDE every
      // timed body (r17 harness fix). Lazily-amplified frames fuse
      // the per-token copy transform into the base corpus's scan —
      // and sf0.1 documents.parquet is ONE file with ONE row group,
      // so at 200× that is ~1M document rewrites in a SINGLE task
      // (measured: a 115 s stage median == its 122 s max task inside
      // the simhash arm — 60% of its wall was the harness, not the
      // operator). A real corpus at any scale is many-file parquet;
      // feeding the ops the same shape makes the arms measure the
      // OPERATOR. StreamScaleStress and the cdc feed already did
      // this; prior rounds' batch numbers carry the fused amplify
      // tax uniformly (same-session A/B deltas remain valid).
      val docs = {
        val dir = s"${sys.props("java.io.tmpdir")}/graft-amp-docs-$scale"
        amplifyDocs(docs0, scale)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      }
      val emb = {
        val dir = s"${sys.props("java.io.tmpdir")}/graft-amp-emb-$scale"
        amplifyEmbeddings(emb0, scale)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      }
      // ---- CDC decode throughput: the reference's ONE intrinsic
      // number is a ~3 events/s ceiling (BASELINE.md reference table:
      // 3 workers × time.sleep(1)); this measures the repo's
      // counterpart on the same wire format — full pgoutput v1 frames
      // (R/B/I/U('O' old image)/D('K' image)/C) through the
      // production CdcDecode.decode path. One replication stream is a
      // totally ordered SERIAL unit (SURVEY §4.2: frames of a stream
      // decode sequentially in one partition), so the recorded number
      // is PER-STREAM throughput; slots/publications are independent,
      // so aggregate throughput scales linearly with stream count.
      // Frame GENERATION is outside the timed body (written to
      // parquet first); the timed path is scan + decode + count.
      // The whole block (generation included) honors the op filter.
      if (opFilter.isEmpty || opFilter.exists("cdc_decode_throughput".contains)) {
      val cdcFeed = {
        import spark.implicits._
        val dir = s"${sys.props("java.io.tmpdir")}/graft-cdctp-$scale"
        val nTxn = 2000 * scale
        val relBytes = graft.cdc.PgOutput.Encoder.relation(graft.cdc.UsersFixture.relation)
        val relId = graft.cdc.UsersFixture.RelId
        spark.range(nTxn).coalesce(1).mapPartitions { it =>
          import graft.cdc.PgOutput.{Encoder => E, WText}
          def row(i: Long, tag: String) = Seq(
            WText(i.toString), WText(s"User $i $tag"), WText(s"u$i@example.com"),
            WText("active"), WText("2026-01-01 00:00:00"), WText("2026-01-01 00:00:00"))
          val head = Iterator(graft.cdc.CdcFrame(1L, 0L, relBytes))
          head ++ it.flatMap { i =>
            val base = 10L + i * 10
            Iterator(
              graft.cdc.CdcFrame(base, 0L, E.begin()),
              graft.cdc.CdcFrame(base + 1, 0L, E.insert(relId, row(i, "v1"))),
              graft.cdc.CdcFrame(base + 2, 0L, E.update(relId,
                old = Some(('O', row(i, "v1"))), neu = row(i, "v2"))),
              graft.cdc.CdcFrame(base + 3, 0L, E.delete(relId, 'K', row(i, "v2"))),
              graft.cdc.CdcFrame(base + 4, 0L, E.commit()))
          }
        }.write.mode("overwrite").parquet(dir)
        dir
      }
      measure("cdc_decode_throughput", scale) {
        import spark.implicits._
        val frames = spark.read.parquet(cdcFeed).as[graft.cdc.CdcFrame].coalesce(1)
        graft.cdc.CdcDecode.resetStream(s"tp$scale")
        val events = graft.cdc.CdcDecode.decode(
          frames, streamId = s"tp$scale", sortByLsn = true).count()
        extraFields = s""","events":$events"""
        events
      }
      }
      measure("minhash_near_dup_pairs", scale) {
        Dedup.nearDupPairsShingled(docs, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5).count()
      }
      measure("simhash_near_dup", scale) {
        Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3).count()
      }
      // ---- image near-dup at decode volume: the multimodal family's
      // scale dimension the fixture queries can't exercise — REAL
      // PNG decode (inflate + unfilter) + dHash + the shared
      // pigeonhole join over 2k images per unit scale. Corpus:
      // formulaic 48×32 RGB PNGs with injected 3-member brightness
      // families every 10 ids, PLUS the formula family's own
      // structure: dHash keys on GRADIENT SIGNS, and the linear
      // formula has only ~190 distinct gradient classes (k mod 190),
      // so ids collapse into ~190 near-dup families of ~N/190
      // members — a deliberately dup-HEAVY corpus, the image mirror
      // of amplifyDocs' copy families (measured: 984k pairs from 20k
      // images, 20.9M from 200k — quadratic in family size, i.e.
      // OUTPUT-bound, while wall grows 6.5→13.0 s). That shape
      // exercises the flood-block chunking exactly like amplified
      // text. Encoded driver-side (the fixture encoder is a test
      // artifact) and written to parquet OUTSIDE the timed body,
      // like every feed.
      if (opFilter.isEmpty || opFilter.exists("image_near_dup".contains)) {
        val n = 2000 * scale
        val feed = s"${sys.props("java.io.tmpdir")}/graft-imgfeed-$scale"
        locally {
          import spark.implicits._
          // generated DISTRIBUTED like the video feed (a driver-side
          // Seq pins ~5 GB at the 500× scale = 1M PNGs); content is a
          // pure function of the id, so the feed is bit-identical to
          // the former driver-side form
          spark.range(n).repartition(spark.sparkContext.defaultParallelism)
            .map { iL =>
              val i = iL.toInt
              val fam = i - i % 10 // family head
              val v = i % 10 // 0 = head; 1,2 = its near-dup variants
              val shift = if (v == 1) 35 else if (v == 2) 60 else 0
              val b = if (v <= 2) fam else i // variants share the head's formula
              // formula injective in b over the arm's id range (two
              // ids share it only when b1≡b2 mod 9973 AND mod 190 —
              // lcm ≈ 1.9M, past any measured N), so unrelated images
              // never collapse into accidental mega-families
              (i.toLong, operators.Multimodal.encodePng(48, 32, 3,
                (x, y, c) => ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190 + shift,
                y => (y + b) % 5))
            }.toDF("img_id", "payload")
            .write.mode("overwrite").parquet(feed)
        }
        measure("image_near_dup", scale) {
          operators.Multimodal.imageNearDupPairs(
            spark.read.parquet(feed), "img_id", "payload",
            maxHamming = 3).count()
        }
      }
      // ---- video near-dup at container volume (r18, post one-pass
      // fix — the arm the r17 verdict said would have caught the
      // quadratic re-decode): 200 uncompressed 32×24 AVIs of 24
      // frames per unit scale (~55 KB each), brightness-shifted
      // 3-member families every 10 ids (uniform shifts are
      // dHash-invariant per frame ⇒ full frame-aligned matches),
      // formula keyed off the family head like the image arm.
      // Claim under test: wall tracks CONTAINER volume linearly —
      // one walk per video, 72 wire samples per sampled frame —
      // never frames×decodes. Generated DISTRIBUTED (the encoder
      // runs in executors; a driver-side Seq would cap the scale at
      // driver heap), written outside the timed body like every feed.
      if (opFilter.isEmpty || opFilter.exists(f =>
          "video_near_dup".contains(f) || "video_near_dup_shifted".contains(f) ||
            "video_near_dup_long".contains(f) || "video_image_matches".contains(f))) {
        val n = 200 * scale
        val feed = s"${sys.props("java.io.tmpdir")}/graft-avifeed-$scale"
        locally {
          import spark.implicits._
          spark.range(n).repartition(spark.sparkContext.defaultParallelism)
            .map { i =>
              val id: Long = i
              val fam = id - id % 10
              val v = id % 10
              val shift = if (v == 1) 35 else if (v == 2) 60 else 0
              val b = (if (v <= 2) fam else id).toInt
              (id, operators.Multimodal.encodeAvi(32, 24, 24,
                (f, x, y, c) =>
                  ((x * 7 + y * 13 + c * 31 + f * 17) * (b % 9973 + 1) + b) % 190 + shift))
            }.toDF("vid_id", "payload")
            .write.mode("overwrite").parquet(feed)
        }
        // WIDE-BINARY scan sizing (measured here at 200×): the
        // vectorized parquet reader allocates columnarReaderBatchSize
        // ROWS per batch — 4096 × ~55 KB payloads is a ~225 MB
        // contiguous ask per task and OOMs the reader ("Cannot
        // reserve additional contiguous bytes"). Any 100 TB media
        // lake sizes this to row width; 64 rows covers the widest
        // feed here (96-frame ≈ 220 KB payloads ⇒ ~14 MB/batch).
        val prevBatch = spark.conf.get("spark.sql.parquet.columnarReaderBatchSize", "4096")
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "64")
        try {
        measure("video_near_dup", scale) {
          operators.Multimodal.videoNearDupPairs(
            spark.read.parquet(feed), "vid_id", "payload", stride = 4).count()
        }
        // the shift-tolerant set-overlap form on the SAME feed (its
        // brightness families overlap fully, so pair volume mirrors
        // the aligned arm); the extra cost is the distinct over
        // (id, hash) rows instead of the frame-keyed join
        measure("video_near_dup_shifted", scale) {
          // 256, not the media-family 1024: 500× A/B (BASELINE.md r20)
          // — identical 7,791,265 rows, 17.5→12.5 s, max-task/stage-
          // median 3.15→1.13 (frame-hash flood cells densify with
          // scale; 1024 under-splits them at 500×)
          operators.Multimodal.videoNearDupPairsShifted(
            spark.read.parquet(feed), "vid_id", "payload", stride = 4,
            chunkSize = 256).count()
        }
        // FRAMES-linearity leg (the r17 verdict's exact question —
        // the pre-fix form was quadratic in frames PER VIDEO, which
        // video-count scaling alone cannot expose): same total wire
        // frame volume as the main leg (n/4 videos × 96 frames vs
        // n × 24), same stride ratio (16 ⇒ 6 sampled frames/video).
        // Linear-in-frames ⇒ wall ≈ the main leg's; the quadratic
        // form would pay 4× the per-video decode count on 4×-longer
        // containers ⇒ ~16× the frame decodes.
        val longFeed = s"${sys.props("java.io.tmpdir")}/graft-avifeed-long-$scale"
        locally {
          import spark.implicits._
          spark.range(n / 4).repartition(spark.sparkContext.defaultParallelism)
            .map { i =>
              val id: Long = i
              val fam = id - id % 10
              val v = id % 10
              val shift = if (v == 1) 35 else if (v == 2) 60 else 0
              val b = (if (v <= 2) fam else id).toInt
              (id, operators.Multimodal.encodeAvi(32, 24, 96,
                (f, x, y, c) =>
                  ((x * 7 + y * 13 + c * 31 + f * 17) * (b % 9973 + 1) + b) % 190 + shift))
            }.toDF("vid_id", "payload")
            .write.mode("overwrite").parquet(longFeed)
        }
        measure("video_near_dup_long", scale) {
          operators.Multimodal.videoNearDupPairs(
            spark.read.parquet(longFeed), "vid_id", "payload", stride = 16).count()
        }
        // cross-modal containment at volume: a still catalog of every
        // 10th video's frame-0 export (n/10 PNGs) probed against the
        // full video feed's sampled frames — family heads and their
        // brightness variants match at Hamming 0
        val stillFeed = s"${sys.props("java.io.tmpdir")}/graft-stillfeed-$scale"
        locally {
          import spark.implicits._
          spark.range(n / 10).repartition(spark.sparkContext.defaultParallelism)
            .map { i =>
              val b = (i * 10).toInt // family heads: ids 0, 10, 20, …
              (i, operators.Multimodal.encodePng(32, 24, 3,
                (x, y, c) =>
                  ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190))
            }.toDF("img_id", "payload")
            .write.mode("overwrite").parquet(stillFeed)
        }
        measure("video_image_matches", scale) {
          operators.Multimodal.videoImageMatches(
            spark.read.parquet(feed), "vid_id", "payload", 4,
            spark.read.parquet(stillFeed), "img_id", "payload",
            maxHamming = 3).count()
        }
        } finally spark.conf.set(
          "spark.sql.parquet.columnarReaderBatchSize", prevBatch)
      }
      // ---- audio near-dup pairs at decode volume (r18 — the stream
      // gate had arms, the batch pairs op did not): 500 mono 8 kHz
      // 4000-frame WAVs per unit scale (~8 KB each), gain-rescaled
      // 3-member families every 10 ids (the envelope hash is
      // gain-invariant by cross-multiplication ⇒ Hamming 0), same
      // formula family as the stream arm's fixture. Same pigeonhole
      // join as image/simhash — the claim is decode volume + the
      // audited block/chunk machinery, nothing op-specific.
      if (opFilter.isEmpty || opFilter.exists(f =>
          "audio_near_dup".contains(f) || "audio_near_dup_shifted".contains(f) ||
            "audio_near_dup_offset".contains(f))) {
        val n = 500 * scale
        val feed = s"${sys.props("java.io.tmpdir")}/graft-awavfeed-$scale"
        locally {
          import spark.implicits._
          spark.range(n).repartition(spark.sparkContext.defaultParallelism)
            .map { i =>
              val id: Long = i
              val fam = id - id % 10
              val v = id % 10
              val gain = if (v == 1) 3 else if (v == 2) 5 else 1
              val b = (if (v <= 2) fam else id).toInt
              (id, operators.Multimodal.encodeWav(1, 8000, 4000,
                (c, f) =>
                  ((((f * 31 + c * 17) * (b % 9973 + 1) + b) % 4001) - 2000) * gain))
            }.toDF("clip_id", "payload")
            .write.mode("overwrite").parquet(feed)
        }
        measure("audio_near_dup", scale) {
          operators.Multimodal.audioNearDupPairs(
            spark.read.parquet(feed), "clip_id", "payload",
            maxHamming = 3).count()
        }
        // the trim-tolerant segment-set form on the SAME feed: 31
        // 128-frame segments per 4000-frame clip, exact set overlap.
        // chunkSize is the A/B lever for the r19 chunk-cell fix — a
        // huge value forces k=1 everywhere (the pre-fix single-cell
        // join shape) for same-session comparison.
        measure("audio_near_dup_shifted", scale) {
          operators.Multimodal.audioNearDupPairsShifted(
            spark.read.parquet(feed), "clip_id", "payload",
            segFrames = 128,
            chunkSize = 1024).count()
        }
        // ARBITRARY-offset form, own feed: the shared feed's linear
        // sawtooth has a ~1.3-frame period — DEGENERATE for sliding
        // windows (every offset hashes alike, flooding the value
        // join), and real audio is not sub-window-periodic. This feed
        // uses the oracle fixture's quadratic-phase signal
        // (decorrelated shifts) with 10-clip families: 2 gain
        // variants, one 37-frame NON-multiple trim (invisible to the
        // fixed-phase forms), rest unique. hop=1 emits ~3873 sliding
        // hashes per 4000-frame clip — the documented ~128× probe-
        // volume price of full trim tolerance (catalog side stays
        // single-phase). A larger hop trades it back.
        val offFeed = s"${sys.props("java.io.tmpdir")}/graft-awoffeed-$scale"
        locally {
          import spark.implicits._
          spark.range(n).repartition(spark.sparkContext.defaultParallelism)
            .map { i =>
              val id: Long = i
              val fam = id - id % 10
              val v = id % 10
              val gain = if (v == 1) 3 else if (v == 2) 2 else 1
              // Same-content classes must be exactly the 3-member
              // families, or pair volume measures fixture aliasing
              // instead of the operator: any fixed modulus collapses
              // b mod it (b and b+4001 gave IDENTICAL clips —
              // measured 19× genuine pairs at 50×), so the modulus
              // itself varies with b: effective content space
              // 37 moduli × ~4000 residues ≫ 100k clips.
              val b = (if (v <= 2) fam else id).toInt + 1
              val p = 3989 + 2 * (b % 37)
              val trim = if (v == 2) 37 else 0
              (id, operators.Multimodal.encodeWav(1, 8000, 4000 - trim,
                (c, f) => {
                  val g = f + trim
                  (((g.toLong * g % p) * (b % p) + 7L * g + b) % p - p / 2).toInt * gain
                }))
            }.toDF("clip_id", "payload")
            .write.mode("overwrite").parquet(offFeed)
        }
        measure("audio_near_dup_offset", scale) {
          operators.Multimodal.audioNearDupPairsOffset(
            spark.read.parquet(offFeed), "clip_id", "payload",
            segFrames = 128,
            hop = 1).count()
        }
      }
      // ---- sample-rate-tolerant near-dup (r20): the ms-segmentation
      // matcher over a MIXED-RATE corpus — 3-member families every 10
      // ids where the head's recording also exists as a 16 kHz ideal
      // upsample (gain 3) and a 4 kHz ideal downsample (gain 5); all
      // other ids unique content at 8 kHz. 2080 logical frames = 8
      // ms=65 segments per clip at every rate (260/520/1040 derived
      // frames — the 65-divisible exactness regime), so the planted
      // cross-rate pairs match on full segment sets; like the other
      // near-dup feeds the sawtooth family also collides ACROSS ids
      // (envelope sign patterns recur mod the formula's period), so
      // output grows quadratically dup-heavy (192 pairs at 1x, 145k
      // at 50x — the flood-block machinery's honest load, not
      // planted-only). Same set-overlap core as the shifted arm; the
      // claim is mixed-rate decode volume through the same audited
      // machinery.
      if (opFilter.isEmpty || opFilter.exists("audio_resample_near_dup".contains)) {
        val n = 500 * scale
        val feed = s"${sys.props("java.io.tmpdir")}/graft-arsfeed-$scale"
        locally {
          import spark.implicits._
          spark.range(n).repartition(spark.sparkContext.defaultParallelism)
            .map { i =>
              val id: Long = i
              val fam = id - id % 10
              val v = id % 10
              val b = (if (v <= 2) fam else id).toInt
              val (rate, rep, gain) =
                if (v == 1) (16000, 4, 3) else if (v == 2) (4000, 1, 5) else (8000, 2, 1)
              def u(c: Int, g: Int): Int =
                (((g * 31 + c * 17) * (b % 9973 + 1) + b) % 4001) - 2000
              (id, operators.Multimodal.encodeWav(1, rate, 2080 * rep,
                (c, f) => u(c, f / rep) * gain))
            }.toDF("clip_id", "payload")
            .write.mode("overwrite").parquet(feed)
        }
        measure("audio_resample_near_dup", scale) {
          operators.Multimodal.audioNearDupPairsResampled(
            spark.read.parquet(feed), "clip_id", "payload",
            msPerSeg = 65,
            // 256, not the media-family 1024: same-session 200× A/B
            // (BASELINE.md r20) — identical 1,994,968 rows, wall-
            // neutral, max-task/stage-median 1.50→1.12 (this feed's
            // flood cells are smaller than the shifted arm's, so the
            // finer chunk balances where 1024 under-splits)
            chunkSize = 256).count()
        }
      }
      // ---- r19 media extensions: MJPEG decode volume, audio-in-video
      // containment, incremental image dedup vs a persisted index.
      if (opFilter.isEmpty || opFilter.exists(f =>
          "video_near_dup_mjpeg".contains(f) || "audio_video_matches".contains(f) ||
            "incremental_image_dedup".contains(f) ||
            "incremental_video_dedup".contains(f) ||
            "media_curation".contains(f) ||
            "incremental_media_curation".contains(f) ||
            "gif_anim_near_dup".contains(f))) {
        val prevBatch = spark.conf.get("spark.sql.parquet.columnarReaderBatchSize", "4096")
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "64")
        try {
        // MJPEG near-dup: 100 clips × 12 real ImageIO JPEG frames per
        // unit scale, smooth per-family gradients (quantization noise
        // stays inside the Hamming band), 3-member families every 10
        // ids (head + quality-0.7 re-encode + +10 brightness nudge).
        // Claim under test: the per-SAMPLED-frame JPEG decode path is
        // linear in sampled-frame volume — the container walk itself
        // stays one-pass.
        if (opFilter.isEmpty || opFilter.exists("video_near_dup_mjpeg".contains)) {
          val n = 100 * scale
          val feed = s"${sys.props("java.io.tmpdir")}/graft-mjpegfeed-$scale"
          locally {
            import spark.implicits._
            spark.range(n).repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = i
                val fam = id - id % 10
                val v = id % 10
                val b = (if (v <= 2) fam else id).toInt
                val nudge = if (v == 2) 10 else 0
                val q = if (v == 1) 0.7f else 0.9f
                // smooth (JPEG-robust) but family-DISTINCT gradients:
                // per-family slopes/phase change the gradient-sign
                // pattern, so only intended families pair and pair
                // volume stays ~n (the arm measures DECODE volume)
                (id, operators.Multimodal.encodeAviMjpeg(48, 32, 12,
                  (f, x, y, c) =>
                    40 + ((x * (2 + b % 7) + y * (1 + b % 5) + c + f * 5 + b * 11) % 160) + nudge, q))
              }.toDF("vid_id", "payload")
              .write.mode("overwrite").parquet(feed)
          }
          measure("video_near_dup_mjpeg", scale) {
            // 128 by the same 500× A/B ladder: 1024→32.0 s @2.57,
            // 256→23.0 s @1.46, 128→16.6 s @1.02, rows identical —
            // the Hamming-3 band join amplifies this feed's cells
            // harder than the exact-match shifted arm's
            operators.Multimodal.videoNearDupPairsShifted(
              spark.read.parquet(feed), "vid_id", "payload",
              stride = 4, minFrac = 0.5, maxHamming = 3,
              chunkSize = 128).count()
          }
        }
        // audio-in-video containment: 200 videos per unit scale with
        // 4000-frame mono PCM tracks, a clip catalog of n/10 cuts at
        // segment boundaries (gain x3 on odd ids) — every clip
        // contains in exactly its source video.
        if (opFilter.isEmpty || opFilter.exists("audio_video_matches".contains)) {
          val n = 200 * scale
          val vidFeed = s"${sys.props("java.io.tmpdir")}/graft-avfeed-$scale"
          val clipFeed = s"${sys.props("java.io.tmpdir")}/graft-avclipfeed-$scale"
          locally {
            import spark.implicits._
            spark.range(n).repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val b = i.toInt
                (i, operators.Multimodal.encodeAvi(8, 6, 2,
                  (f, x, y, c) => (x * 3 + y + f + c + b) % 200,
                  audioChannels = 1, audioRate = 8000, audioFrames = 4000,
                  audioSample = (c, f) =>
                    ((((f * 53 + c * 17) * (b % 9973 + 1) + b) % 3989) - 1994)))
              }.toDF("vid_id", "payload")
              .write.mode("overwrite").parquet(vidFeed)
            spark.range(n / 10).repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val b = (i * 10).toInt // source video
                val gain = if (i % 2 == 1) 3 else 1
                val trim = 128 * (1 + (i % 5)).toInt
                (i, operators.Multimodal.encodeWav(1, 8000, 512,
                  (c, f) => ((((f + trim) * 53 + c * 17) * (b % 9973 + 1) + b) % 3989 - 1994) * gain))
              }.toDF("clip_id", "payload")
              .write.mode("overwrite").parquet(clipFeed)
          }
          measure("audio_video_matches", scale) {
            operators.Multimodal.audioVideoMatches(
              spark.read.parquet(vidFeed), "vid_id", "payload",
              spark.read.parquet(clipFeed), "clip_id", "payload",
              segFrames = 128, minFrac = 0.5).count()
          }
        }
        // incremental image dedup: history = the image arm's corpus
        // persisted as an 8-byte-per-image hash index (built OUTSIDE
        // the timed body — that's the artifact's whole point); the
        // timed body dedups a 10% increment (half twins of history
        // heads, half fresh) against it. Claim: increment cost scales
        // with the INCREMENT + index size, never re-decoding history.
        if (opFilter.isEmpty || opFilter.exists("incremental_image_dedup".contains)) {
          val nHist = 2000 * scale
          val nInc = nHist / 10
          val idxDir = s"${sys.props("java.io.tmpdir")}/graft-imgidx-$scale"
          val incFeed = s"${sys.props("java.io.tmpdir")}/graft-imginc-$scale"
          locally {
            import spark.implicits._
            val hist = spark.range(nHist)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val b = i.toInt
                (i, operators.Multimodal.encodePng(48, 32, 3,
                  (x, y, c) => ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190,
                  y => (y + b) % 5))
              }.toDF("img_id", "payload")
            operators.Multimodal.imageHashIndex(hist, "img_id", "payload")
              .write.mode("overwrite").parquet(idxDir)
            spark.range(nInc).repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = nHist + i
                // even ids: +35 brightness twins of history heads
                // (drop); odd ids: NOISE-shaped fresh content (keep —
                // the linear-gradient formula has only ~190 gradient
                // classes, so a "fresh" linear image would collide
                // with history and make kept counts uninterpretable)
                if (i % 2 == 0) {
                  val b = ((i * 10) % nHist).toInt
                  (id, operators.Multimodal.encodePng(48, 32, 3,
                    (x, y, c) => (((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190 + 35),
                    y => (y + b) % 5))
                } else {
                  val b = i.toInt
                  (id, operators.Multimodal.encodePng(48, 32, 3,
                    (x, y, c) => ((x * 7 + y) * (c * 5 + 3) * 73 + x * y * (b % 41 + 2) + b) % 256,
                    y => (y + b) % 5))
                }
              }.toDF("img_id", "payload")
              .write.mode("overwrite").parquet(incFeed)
          }
          measure("incremental_image_dedup", scale) {
            operators.Multimodal.dedupImagesAgainstIndex(
              spark.read.parquet(incFeed), "img_id", "payload",
              spark.read.parquet(idxDir), maxHamming = 3).count()
          }
        }
        // incremental shift-tolerant VIDEO dedup vs the persisted
        // frame-hash index (audio shares the identical
        // setOverlapIdsAgainstIndex core and plan — one growth arm
        // covers the shape): history = 200 AVIs/unit scale indexed
        // outside the timed body; increment = 10%, half 4-frame trims
        // of history heads (drop), half fresh content (keep).
        if (opFilter.isEmpty || opFilter.exists("incremental_video_dedup".contains)) {
          val nHist = 200 * scale
          val nInc = nHist / 10
          val idxDir = s"${sys.props("java.io.tmpdir")}/graft-vididx-$scale"
          val incFeed = s"${sys.props("java.io.tmpdir")}/graft-vidinc-$scale"
          locally {
            import spark.implicits._
            def pix(b: Int)(f: Int, x: Int, y: Int, c: Int): Int =
              ((x * 7 + y * 13 + c * 31 + f * 17) * (b % 9973 + 1) + b) % 190
            val hist = spark.range(nHist)
              .repartition(spark.sparkContext.defaultParallelism)
              .map(i => (i, operators.Multimodal.encodeAvi(32, 24, 24, pix(i.toInt))))
              .toDF("vid_id", "payload")
            operators.Multimodal.videoFrameHashIndex(
              hist, "vid_id", "payload", stride = 4)
              .write.mode("overwrite").parquet(idxDir)
            spark.range(nInc).repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = nHist + i
                if (i % 2 == 0) { // 4-frame trim of a history head
                  val b = ((i * 10) % nHist).toInt
                  (id, operators.Multimodal.encodeAvi(32, 24, 20,
                    (f, x, y, c) => pix(b)(f + 4, x, y, c)))
                } else { // noise-shaped fresh content
                  val b = i.toInt
                  (id, operators.Multimodal.encodeAvi(32, 24, 24,
                    (f, x, y, c) =>
                      ((f * 7 + x) * (y * 5 + c) * 73 + x * y * (b % 41 + 2) + b) % 256))
                }
              }.toDF("vid_id", "payload")
              .write.mode("overwrite").parquet(incFeed)
          }
          measure("incremental_video_dedup", scale) {
            operators.Multimodal.dedupVideosAgainstIndex(
              spark.read.parquet(incFeed), "vid_id", "payload",
              spark.read.parquet(idxDir), stride = 4, minFrac = 0.5).count()
          }
        }
        // animated GIF in the video family (r20): 100 GIFs/unit
        // scale, ~10 composited frames each, 3-member families every
        // 10 ids (original, palette-permuted byte-different
        // re-encode, 2-frame trim) — the shifted set-overlap family
        // over the GIF container, every frame's LZW paid (delta
        // compositing is sequential by nature, documented).
        if (opFilter.isEmpty || opFilter.exists("gif_anim_near_dup".contains)) {
          val n = 100 * scale
          val feed = s"${sys.props("java.io.tmpdir")}/graft-giffeed-$scale"
          locally {
            import spark.implicits._
            spark.range(n).repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = i
                val fam = id - id % 10
                val v = id % 10
                val b = (if (v <= 2) fam else id).toInt + 1
                val rot = if (v == 1) 77 else 0
                val trim = if (v == 2) 2 else 0
                def pal(k: Int) = (((k + rot) % 256 * 3 + b) % 256,
                  ((k + rot) % 256 * 5 + 7) % 256, ((k + rot) % 256 * 11 + 3) % 256)
                // x·y·(b/251) term: a plain +b wraps content mod 256
                // (ids 256 apart encoded IDENTICAL pixels) — the
                // per-block slope keeps content unique across blocks
                (id, operators.Multimodal.encodeGifAnim(24, 18, 0,
                  i2 => pal(i2),
                  (0 until (10 - trim)).map(f =>
                    operators.Multimodal.GifFrameSpec(0, 0, 24, 18,
                      (x, y) => ((x * 7 + y * 13 + (f + trim) * 29 + b
                        + x * y * (b / 251)) % 256 + 256 - rot) % 256))))
              }.toDF("gif_id", "payload")
              .write.mode("overwrite").parquet(feed)
          }
          measure("gif_anim_near_dup", scale) {
            operators.Multimodal.videoNearDupPairsShifted(
              spark.read.parquet(feed), "gif_id", "payload", stride = 1).count()
          }
        }
        // the composite media curation report over a MIXED feed
        // (1000 images + 100 AVIs + 250 WAVs + 50 junk per unit
        // scale, each family with injected near-dup members): all
        // three dedup machineries + three CC passes + the assembly
        // join in one measured body. The filter on the computed
        // verdict blocks the count()-prune trap (left-join subtree
        // must execute).
        if (opFilter.isEmpty || opFilter.exists(f =>
            "media_curation".contains(f) ||
              "incremental_media_curation".contains(f))) {
          val nImg = 1000 * scale
          val nVid = 100 * scale
          val nAud = 250 * scale
          val nJunk = 50 * scale
          val feed = s"${sys.props("java.io.tmpdir")}/graft-mixedfeed-$scale"
          locally {
            import spark.implicits._
            val imgs = spark.range(nImg)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = i
                val fam = id - id % 10
                val v = id % 10
                val shift = if (v == 1) 35 else if (v == 2) 60 else 0
                val b = (if (v <= 2) fam else id).toInt
                (id, operators.Multimodal.encodePng(48, 32, 3,
                  (x, y, c) => ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190 + shift,
                  y => (y + b) % 5))
              }
            val vids = spark.range(nVid)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = i
                val fam = id - id % 10
                val v = id % 10
                val shift = if (v == 1) 35 else if (v == 2) 60 else 0
                val b = (if (v <= 2) fam else id).toInt
                (nImg + id, operators.Multimodal.encodeAvi(32, 24, 24,
                  (f, x, y, c) =>
                    ((x * 7 + y * 13 + c * 31 + f * 17) * (b % 9973 + 1) + b) % 190 + shift))
              }
            val auds = spark.range(nAud)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = i
                val fam = id - id % 10
                val v = id % 10
                val gain = if (v == 1) 3 else if (v == 2) 5 else 1
                val b = (if (v <= 2) fam else id).toInt
                (nImg + nVid + id, operators.Multimodal.encodeWav(1, 8000, 4000,
                  (c, f) =>
                    ((((f * 31 + c * 17) * (b % 9973 + 1) + b) % 4001) - 2000) * gain))
              }
            val junk = spark.range(nJunk)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = i
                (nImg + nVid + nAud + id,
                  s"junk payload number $id, decodable by nothing".getBytes("UTF-8"))
              }
            imgs.union(vids).union(auds).union(junk).toDF("media_id", "payload")
              .write.mode("overwrite").parquet(feed)
          }
          measure("media_curation", scale) {
            operators.Multimodal.mediaCurationReport(
              spark.read.parquet(feed), "media_id", "payload",
              imageMaxHamming = 3, videoStride = 4, videoMinFrac = 0.5,
              audioSegFrames = 128, audioMinFrac = 0.5)
              .filter(col("verdict") === "drop").count()
          }
          // INCREMENTAL media curation (r20): history artifacts (the
          // report + md5 keys + all three fingerprint indexes) built
          // OUTSIDE the timed body; the new corpus = history + 5%
          // additions per modality (half near-dups of history
          // families, half fresh). The timed body pays ONE md5 scan
          // over the corpus plus decode/judge for the increment only
          // — history is never re-decoded, so walls are increment-
          // bound as the history grows with scale.
          val oldRepDir = s"${sys.props("java.io.tmpdir")}/graft-medrep-$scale"
          val idxImgDir = s"${sys.props("java.io.tmpdir")}/graft-medixi-$scale"
          val idxVidDir = s"${sys.props("java.io.tmpdir")}/graft-medixv-$scale"
          val idxAudDir = s"${sys.props("java.io.tmpdir")}/graft-medixa-$scale"
          val newFeed = s"${sys.props("java.io.tmpdir")}/graft-mednew-$scale"
          locally {
            import spark.implicits._
            val old = spark.read.parquet(feed)
            operators.Multimodal.mediaCurationReport(old, "media_id", "payload",
              imageMaxHamming = 3, videoStride = 4, videoMinFrac = 0.5,
              audioSegFrames = 128, audioMinFrac = 0.5)
              .join(old.select(col("media_id"),
                operators.Multimodal.payloadMd5(col("payload")).as("payload_md5")),
                "media_id")
              .write.mode("overwrite").parquet(oldRepDir)
            operators.Multimodal.imageHashIndex(old, "media_id", "payload")
              .write.mode("overwrite").parquet(idxImgDir)
            operators.Multimodal.videoFrameHashIndex(old, "media_id", "payload", 4)
              .write.mode("overwrite").parquet(idxVidDir)
            operators.Multimodal.audioSegmentHashIndex(old, "media_id", "payload", 128)
              .write.mode("overwrite").parquet(idxAudDir)
            val base = (nImg + nVid + nAud + nJunk).toLong
            val addImgs = spark.range(nImg / 20)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = base + i
                if (i % 2 == 0) { // brightness-shifted copy of a history head
                  val b = ((i * 10) % nImg).toInt
                  (id, operators.Multimodal.encodePng(48, 32, 3,
                    (x, y, c) =>
                      ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190 + 20,
                    y => (y + b) % 5))
                } else { // fresh content
                  val b = id.toInt
                  (id, operators.Multimodal.encodePng(48, 32, 3,
                    (x, y, c) =>
                      ((x * 11 + y * 3 + c * 7) * (b % 9973 + 3) + b * 2) % 200,
                    y => (y + b) % 5))
                }
              }
            val addVids = spark.range(nVid / 20)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = base + nImg / 20 + i
                if (i % 2 == 0) { // 4-frame trim of a history head
                  val b = ((i * 10) % nVid).toInt
                  (id, operators.Multimodal.encodeAvi(32, 24, 20,
                    (f, x, y, c) =>
                      ((x * 7 + y * 13 + c * 31 + (f + 4) * 17) * (b % 9973 + 1) + b) % 190))
                } else {
                  val b = id.toInt
                  (id, operators.Multimodal.encodeAvi(32, 24, 24,
                    (f, x, y, c) =>
                      ((f * 7 + x) * (y * 5 + c) * 73 + x * y * (b % 41 + 2) + b) % 256))
                }
              }
            val addAuds = spark.range(nAud / 20)
              .repartition(spark.sparkContext.defaultParallelism)
              .map { i =>
                val id: Long = base + nImg / 20 + nVid / 20 + i
                if (i % 2 == 0) { // 512-frame trim + gain of a history head
                  val b = ((i * 10) % nAud).toInt
                  (id, operators.Multimodal.encodeWav(1, 8000, 4000 - 512,
                    (c, f) =>
                      (((((f + 512) * 31 + c * 17) * (b % 9973 + 1) + b) % 4001) - 2000) * 2))
                } else {
                  val b = id.toInt
                  (id, operators.Multimodal.encodeWav(1, 8000, 4000,
                    (c, f) =>
                      ((((f * 13 + c * 7) * (b % 9973 + 5) + b * 3) % 4001) - 2000)))
                }
              }
            old.unionByName(
              addImgs.union(addVids).union(addAuds).toDF("media_id", "payload"))
              .write.mode("overwrite").parquet(newFeed)
          }
          measure("incremental_media_curation", scale) {
            operators.Multimodal.incrementalMediaCurationReport(
              spark.read.parquet(newFeed), "media_id", "payload",
              spark.read.parquet(oldRepDir),
              spark.read.parquet(idxImgDir), spark.read.parquet(idxVidDir),
              spark.read.parquet(idxAudDir),
              imageMaxHamming = 3, videoStride = 4, videoMinFrac = 0.5,
              audioSegFrames = 128, audioMinFrac = 0.5)
              .filter(col("reason").isNotNull).count() // no count()-prune
          }
        }
        } finally spark.conf.set(
          "spark.sql.parquet.columnarReaderBatchSize", prevBatch)
      }
      measure("ngram_jaccard_ppjoin", scale) {
        // the prefix-filtered inverted-index (PPJoin/AllPairs) exact
        // join — quadratic-prone by nature; the claim under test is
        // that prefix filtering keeps candidate growth output-bound,
        // same oracle-gated parameters as p_ngram_jaccard_pairs.
        // Shuffle parallelism scales with the amplified volume, the
        // way any real deployment sizes it (candidate volume grows
        // ~4× from 50×→100×; a 1000-executor cluster runs thousands
        // of partitions): the operator reads the conf via pinnedParts,
        // so the override propagates to every pinned repartition and
        // the overlap-count agg — at ≥64× that agg's ~1.2B-row key
        // space is what OOM'd the single 8 GiB local JVM at 32
        // reducers (measured r14: G1 young cap does NOT save it; 2×
        // heap or ≥4× reducers both do, and reducers are the shape a
        // cluster actually has).
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        // reducer count of the ≥64× arms (r14 measured 256 sufficient
        // to avoid the OOM; the open question is whether more reducers
        // shrink the overlap agg's per-task state below the spill
        // point — r14 #3)
        val reducers = 256
        if (scale >= 64) spark.conf.set("spark.sql.shuffle.partitions", reducers)
        try {
          val pairs = Dedup.ngramJaccardPairs(
            docs, "doc_id", "text", n = 3, threshold = 0.5).count()
          if (scale >= 64) extraFields = s""","reducers":$reducers"""
          pairs
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
      measure("dup_groups_cc", scale) {
        Graph.connectedComponents(
          Dedup.nearDupPairsShingled(docs, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5),
          "id_a", "id_b").count()
      }
      measure("span_dedup", scale) {
        // amplified near-dup copies share most 8-token spans with the
        // original, so duplicated-span volume grows with scale — the
        // honest load for the first-occurrence join
        Dedup.spanDupStats(docs, "doc_id", "text", size = 8, maxDupFrac = 0.5).count()
      }
      measure("dup_spans_maximal", scale) {
        // the stride-1 maximal-region pipeline (k rows per token vs
        // span_dedup's chunked 1 row per k tokens); amplified copies
        // share long runs with their original, so marked-window and
        // island volume grow with scale — the honest load for the
        // per-doc island merge
        Dedup.dupSpans(docs, "doc_id", "text", k = 8).count()
      }
      measure("split_contamination", scale) {
        val b = docs.withColumn("__sb",
          operators.Sampling.hashBucket(col("doc_id"), "split25", 100))
        operators.Fingerprint.ngramContamination(
          b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90),
          "doc_id", "text", n = 5).count()
      }
      measure("decontaminate", scale) {
        // the removal twin of split_contamination: same gram frontier,
        // but the verdict drives an id-keyed anti-join carrying the
        // full train payload — the claim under test is that the
        // payload rides ONLY that final join, so cost tracks the
        // detection op plus one output-linear pass
        val b = docs.withColumn("__sb",
          operators.Sampling.hashBucket(col("doc_id"), "split25", 100))
        operators.Fingerprint.decontaminate(
          b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90),
          "doc_id", "text", n = 5).count()
      }
      measure("corpus_drift", scale) {
        // snapshot-to-snapshot distribution monitor: old = corpus
        // minus every 10th doc with drift on %7==3 (the lineage
        // derivation). The claim under test: cost is two map-side
        // passes — the shuffle carries only (feature, bucket)
        // aggregates, so wall tracks the scans, never a join of
        // corpus-sized sides. Output is bucket-bounded (rows stay
        // ~constant as the corpus grows); force the ppm columns
        // through an aggregate (count-prune lesson).
        val sOld = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7)) === 3,
              concat(col("text"), lit(" drifted crawl content here")))
              .otherwise(col("text")).as("text"))
        val r = operators.Drift.report(sOld, docs, "doc_id", "text")
          .agg(count(lit(1)).as("n"),
            sum(abs(col("delta_ppm"))).as("tv")).collect()(0)
        extraFields = s""","sum_abs_delta_ppm":${r.getLong(1)}"""
        r.getLong(0)
      }
      measure("global_rank", scale) {
        // exact corpus-wide row_number by (n_tokens, doc_id): the
        // amplified corpus has HEAVY key ties (every copy family
        // shares its token count), the distribution the sub-bucket
        // split exists for. Spread the tokenize off the scan (caller
        // contract); force the rank column through an aggregate
        // (count-prune lesson) — max(rank) must equal the row count,
        // the arithmetic's own invariant riding the line.
        val keyed = docs.repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        val r = operators.Rank.globalRank(keyed, "doc_id", "n_tokens")
          .agg(count(lit(1)).as("n"), max("rank").as("m")).collect()(0)
        require(r.getLong(0) == r.getLong(1),
          s"rank invariant broken: n=${r.getLong(0)} max_rank=${r.getLong(1)}")
        r.getLong(0)
      }
      measure("shard_balanced", scale) {
        // token-balanced export sharding: the claim under test is
        // that the bucket-partitioned serpentine scales linearly with
        // NO SinglePartition stage — buckets scale with the corpus
        // (the Shards scaladoc contract), here 16·scale so per-bucket
        // deals stay ~constant-sized as the corpus grows
        val out = operators.Shards.assignBalanced(
          docs, "doc_id", "text",
          nShards = 16, numBuckets = 16 * scale, salt = "shard")
        val m = operators.Shards.manifest(out, "doc_id")
          .agg(min("total_tokens"), max("total_tokens"), sum("n_docs"))
          .collect()(0)
        extraFields = f""","imbalance":${
          (m.getLong(1) - m.getLong(0)).toDouble / m.getLong(1)}%.4f"""
        m.getLong(2)
      }
      measure("curation_v3", scale) {
        // the six-gate log: v2's families + the LM hit-frac gate
        // (model trained on the 40% lmref slice of the amplified
        // corpus — the `#i` markers inflate the vocabulary linearly,
        // the honest load for the vocabulary-sized model joins)
        // aggregate over `kept` (not a bare count): kept depends on
        // every gate, so no join subtree is prunable — the
        // lm_perplexity count()-prune lesson
        val r = operators.Curation.reportV3(
          docs, "doc_id", "text", emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < lit(16L) * scale &&
            pmod(col("vec_id"), lit(scale)) === 0), "vec_id", "embedding",
          isTarget = operators.Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40,
          lmRef = operators.Sampling.hashBucket(col("doc_id"), "lmref", 100) < 40,
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
          dsirDim = 512, dsirSalt = "dsir", minAffinity = 0.4,
          outlierFraction = 0.1, minHitFrac = 0.99)
          .agg(count(lit(1)).as("n"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("k")).collect()(0)
        extraFields = s""","kept":${r.getLong(1)}"""
        r.getLong(0)
      }
      measure("lm_perplexity", scale) {
        // the true backoff-LM gate end-to-end: train unigram+bigram
        // counts on the ~40% reference slice, score the other ~60%
        // with stupid backoff. The `~i`/`#i` copy markers inflate the
        // reference VOCABULARY ~linearly with scale — the honest load
        // for the vocabulary-sized model artifacts, which stay
        // DataFrames on gram-keyed shuffle-hash joins (never
        // broadcast). The claim under test: wall is corpus-linear
        // (three gram-keyed joins + one id-keyed reduce) and no stage
        // serializes onto the parquet scan lineage (the frontier sits
        // below the tokenize).
        val b = docs.withColumn("__sb",
          operators.Sampling.hashBucket(col("doc_id"), "lmref", 100))
        val ref = b.filter(col("__sb") < 40).select("doc_id", "text")
        val tgt = b.filter(col("__sb") >= 40).select("doc_id", "text")
        // filter on a SCORE column: a bare count() over the final
        // id-keyed left join lets Catalyst prune the whole gram-join
        // subtree (unique right key, no referenced column — measured:
        // 2 tasks, sub-second "wall") and the arm would time a scan
        operators.LanguageModel.perplexity(tgt, "doc_id", "text",
          operators.LanguageModel.ngramCounts(ref, "text", 1),
          operators.LanguageModel.ngramCounts(ref, "text", 2))
          .filter(col("avg_logprob").isNotNull).count()
      }
      measure("pq_topk", scale) {
        // codebook/queries stay the ORIGINAL vectors (copy 0): only
        // the encoded+scanned corpus grows with scale — the ADC-scan
        // cost model under test is O(corpus × queries) map probes
        val queries = emb.filter(col("vec_id") < lit(20L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        val cbSrc = emb.filter(col("vec_id") < lit(16L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        val cb = operators.Similarity.pqCodebookFrom(cbSrc, "vec_id", "embedding", m = 4)
        operators.Similarity.pqTopK(queries, "vec_id", emb, "vec_id", "embedding",
          cb, m = 4, k = 10).count()
      }
      measure("ivf_topk", scale) {
        // queries/centroids stay the ORIGINAL vectors (copy 0) so only
        // the searched corpus grows with scale, like a real index
        val queries = emb.filter(col("vec_id") < lit(20L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        val cents = emb.filter(col("vec_id") < lit(16L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        Similarity.ivfTopK(queries, "vec_id", emb, "vec_id", "embedding",
          cents, "vec_id", "embedding", k = 10, nProbe = 2).count()
      }
      measure("cell_balanced_sample", scale) {
        // semantic-diversity selection over the amplified embedding
        // corpus; centroids stay copy-0 like the other ANN ops. The
        // claim under test: ONE broadcast-argmax pass + a narrow
        // (cell,id) rank whose sort volume WindowGroupLimit caps at
        // k per cell — cost linear in the corpus, output bounded by
        // k·nCells growth only through the per-cell population.
        val cents = emb.filter(col("vec_id") < lit(16L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        Similarity.cellBalancedSample(
          emb, "vec_id", "embedding", cents, "vec_id", "embedding",
          perCellK = 2000, salt = "cbs").count()
      }
      measure("ivfpq_trained_recall", scale) {
        // the r12 audits pinned recall at 0.33 with the deterministic
        // 16-sample "toy" quantizer the ORACLE queries must keep (float
        // k-means is aggregation-order-dependent — not oracle-exact).
        // This op measures what the same IVF-PQ plan does with its
        // production inputs: trainCentroids (spherical k-means) for the
        // coarse cells + pqTrainCodebook (per-subspace L2 k-means,
        // ks=256) for ADC, nProbe=4 — recall@10 vs exact L2 top-10
        // rides the line as "recall". Plan shape is IDENTICAL to
        // ivfpq_topk (quantizer quality tunes recall, never shape).
        // spread the amplified corpus off its few-partition parquet
        // lineage FIRST: the trainers' heavy work (corpus × broadcast
        // codewords, struct-min partials) is all MAP-side before any
        // shuffle, so it runs at input parallelism — unspread, the
        // whole train serializes onto the 1–2 scan partitions
        // (measured: one 100%-CPU core for minutes)
        val corpus = emb.repartition(
          spark.sparkContext.defaultParallelism).localCheckpoint(true)
        val queries = corpus.filter(col("vec_id") < lit(20L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        val cents = Similarity.trainCentroids(
          corpus, "vec_id", "embedding", nCells = 16, iters = 5)
        val cb = Similarity.pqTrainCodebook(
          corpus, "vec_id", "embedding", m = 4, ks = 256, iters = 5)
        val brute = Similarity.bruteForceTopKL2(
          queries, "vec_id", corpus, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id")
        def recallOf(hits: DataFrame): (Long, Double) = {
          val agg = brute
            .join(hits.select(col("query_id"), col("neighbor_id"),
              lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("nb"),
              sum(coalesce(col("__hit"), lit(0L))).as("nh"))
            .collect()(0)
          (agg.getLong(1), agg.getLong(1).toDouble / agg.getLong(0))
        }
        // raw ADC ranking vs + the exact refine stage: the amplified
        // corpus's ~scale-member copy families PQ-encode onto shared
        // codes, so un-refined rank collapses to the id tie-break
        // (recall ≈ k/family) — the refine stage is where the recall
        // target lives, and both numbers ride the line to show it
        val (_, raw) = recallOf(Similarity.ivfPqTopK(
          queries, "vec_id", corpus, "vec_id", "embedding",
          cents, "cent_id", "cent_vec", cb, m = 4, k = 10, nProbe = 4))
        val (refHits, refined) = recallOf(Similarity.ivfPqTopKRefined(
          queries, "vec_id", corpus, "vec_id", "embedding",
          cents, "cent_id", "cent_vec", cb, m = 4, k = 10, nProbe = 4,
          refine = 100))
        extraFields = f""","recall":$raw%.3f,"recall_refined":$refined%.3f,""" +
          s""""n_probe":4,"n_cells":16,"pq_ks":256,"refine":100"""
        refHits
      }
      // ---- refined ANN SERVING pair (VERDICT r14 #4): the trained
      // composite above times train+encode+audits together; these two
      // arms time the QUERY paths separately — raw ADC top-k vs
      // + exact refine — with the deterministic copy-0 quantizer (the
      // oracle queries' artifact: training cost stays out of serving
      // latency). The refine claim under test: its extra cost is
      // output-bounded (refine rows/query + id-keyed attaches), a
      // small constant over the raw path, never a corpus-shaped term.
      // each body builds its OWN spread corpus: measure drops all
      // persisted blocks between ops (op isolation), and a dropped
      // localCheckpoint is unrecomputable — sharing would crash the
      // second op; the spread cost is identical in both arms, so the
      // refined-minus-raw delta is exactly the refine stage's cost
      def servingInputs() = {
        val corpus = emb.repartition(
          spark.sparkContext.defaultParallelism).localCheckpoint(true)
        val queries = corpus.filter(
          col("vec_id") < lit(20L) * scale && pmod(col("vec_id"), lit(scale)) === 0)
        val cents = corpus.filter(
          col("vec_id") < lit(16L) * scale && pmod(col("vec_id"), lit(scale)) === 0)
        val cb = operators.Similarity.pqCodebookFrom(
          cents, "vec_id", "embedding", m = 4)
        (corpus, queries, cents, cb)
      }
      measure("ivfpq_topk_raw", scale) {
        val (corpus, queries, cents, cb) = servingInputs()
        val n = operators.Similarity.ivfPqTopK(
          queries, "vec_id", corpus, "vec_id", "embedding",
          cents, "vec_id", "embedding", cb,
          m = 4, k = 10, nProbe = 4).count()
        extraFields = s""","n_probe":4,"k":10"""
        n
      }
      measure("ivfpq_refined_topk", scale) {
        val (corpus, queries, cents, cb) = servingInputs()
        val n = operators.Similarity.ivfPqTopKRefined(
          queries, "vec_id", corpus, "vec_id", "embedding",
          cents, "vec_id", "embedding", cb,
          m = 4, k = 10, nProbe = 4, refine = 100).count()
        extraFields = s""","n_probe":4,"k":10,"refine":100"""
        n
      }
      measure("ivfpq_recall_curve", scale) {
        // recall-vs-nProbe on the PERTURBED amplification (VERDICT
        // r14 #5): every copy is its own point, so un-refined ADC
        // rank is no longer a family tie-break and the curve finally
        // measures quantizer quality. Fully trained inputs, same as
        // ivfpq_trained_recall.
        val corpus = amplifyEmbeddingsPerturbed(emb0, scale).repartition(
          spark.sparkContext.defaultParallelism).localCheckpoint(true)
        val queries = corpus.filter(col("vec_id") < lit(20L) * scale &&
          pmod(col("vec_id"), lit(scale)) === 0)
        val cents = Similarity.trainCentroids(
          corpus, "vec_id", "embedding", nCells = 16, iters = 5)
        val cb = Similarity.pqTrainCodebook(
          corpus, "vec_id", "embedding", m = 4, ks = 256, iters = 5)
        val brute = Similarity.bruteForceTopKL2(
          queries, "vec_id", corpus, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id").localCheckpoint(true)
        val nb = brute.count().toDouble
        val curve = Seq(1, 2, 4, 8).map { nProbe =>
          val hits = Similarity.ivfPqTopK(
            queries, "vec_id", corpus, "vec_id", "embedding",
            cents, "cent_id", "cent_vec", cb, m = 4, k = 10, nProbe = nProbe)
            .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
          val nh = brute.join(hits, Seq("query_id", "neighbor_id"), "left")
            .agg(sum(coalesce(col("__hit"), lit(0L)))).collect()(0).getLong(0)
          nProbe -> nh / nb
        }
        extraFields = "," + curve.map { case (p, r) =>
          f""""recall_nprobe_$p":$r%.3f""" }.mkString(",") +
          s""","n_cells":16,"pq_ks":256,"k":10"""
        nb.toLong
      }
      measure("curation_v2", scale) {
        // the five-gate decision log end-to-end; amplified doc ids and
        // embedding ids stay aligned (both map id*scale+i), so the
        // prototypicality gate joins real rows. The claim under test:
        // the composition adds only broadcast passes and id-keyed
        // joins to its gates' own (individually measured) costs.
        operators.Curation.reportV2(
          docs, "doc_id", "text", emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < lit(16L) * scale &&
            pmod(col("vec_id"), lit(scale)) === 0), "vec_id", "embedding",
          isTarget = operators.Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40,
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
          dsirDim = 512, dsirSalt = "dsir", minAffinity = 0.4,
          outlierFraction = 0.1).count()
      }
      measure("curation_lineage", scale) {
        // cross-run provenance at amplification, same derivation as
        // p_curation_lineage: old = corpus minus every 10th doc, with
        // content drift on doc_id%7==3; new = the corpus. The claim
        // under test: lineage adds ONE fingerprint-keyed full-outer
        // and two id-keyed report joins on top of its two report runs
        // (each individually linear) — so wall ≈ 2× report + ε and
        // output is one row per doc in either snapshot.
        val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7)) === 3,
              concat(col("text"), lit(" drifted crawl content here")))
              .otherwise(col("text")).as("text"))
        val newDocs = docs.select("doc_id", "text")
        def rep(dd: DataFrame) =
          operators.Curation.report(dd, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
        operators.Curation.lineage(
          oldDocs, newDocs, rep(oldDocs), rep(newDocs), "doc_id", "text")
          .count()
      }
      // ---- lineage over PRE-PERSISTED reports: the documented
      // 100 TB shape (a recurring pipeline persists each run's
      // decision log; lineage joins them later). The report builds
      // sit OUTSIDE the timed body, so the arm isolates what the
      // lineage operator ITSELF costs — the fingerprint-keyed
      // content diff + two id-keyed report joins — from the report
      // recompute the `curation_lineage` arm deliberately includes
      // (its oracle demands both runs in one query). The claim:
      // with the reports amortized, lineage is diff-priced.
      if (opFilter.isEmpty || opFilter.exists("curation_lineage_persisted".contains)) {
        val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7)) === 3,
              concat(col("text"), lit(" drifted crawl content here")))
              .otherwise(col("text")).as("text"))
        val newDocs = docs.select("doc_id", "text")
        val tmp = s"${sys.props("java.io.tmpdir")}/graft-lin-$scale"
        def rep(dd: DataFrame) =
          operators.Curation.report(dd, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
        rep(oldDocs).write.mode("overwrite").parquet(s"$tmp/old_report")
        rep(newDocs).write.mode("overwrite").parquet(s"$tmp/new_report")
        measure("curation_lineage_persisted", scale) {
          operators.Curation.lineage(
            oldDocs, newDocs,
            spark.read.parquet(s"$tmp/old_report"),
            spark.read.parquet(s"$tmp/new_report"),
            "doc_id", "text").count()
        }
      }
      // ---- incremental curation: the delta-proportional claim.
      // History (old corpus's 3-gate report + fingerprints + minhash
      // index) is built and PERSISTED to parquet OUTSIDE the timed
      // body — exactly what a recurring pipeline amortizes — so the
      // timed incremental step pays only the (id, fingerprint) reuse
      // decision, the delta gates (~22% of the corpus here: %10==0
      // added + %7==3 changed), and the signature-index joins. The
      // A/B partner is the full 3-gate report over the same corpus.
      if (opFilter.isEmpty || opFilter.exists(f =>
          "curation_report_full".contains(f) || "incremental_curation".contains(f))) {
        val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7)) === 3,
              concat(col("text"), lit(" drifted crawl content here")))
              .otherwise(col("text")).as("text"))
        val newDocs = docs.select("doc_id", "text")
        measure("curation_report_full", scale) {
          operators.Curation.report(newDocs, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5).count()
        }
        val tmp = s"${sys.props("java.io.tmpdir")}/graft-incr-$scale"
        operators.Curation.report(oldDocs, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
          .join(oldDocs.select(col("doc_id"),
            operators.Dedup.fingerprint(col("text")).as("fingerprint")),
            Seq("doc_id"))
          .write.mode("overwrite").parquet(s"$tmp/old_report")
        operators.Dedup.minhashIndex(oldDocs, "doc_id", "text", n = 3, k = 12)
          .write.mode("overwrite").parquet(s"$tmp/old_index")
        measure("incremental_curation", scale) {
          operators.Curation.incrementalReport(newDocs, "doc_id", "text",
            spark.read.parquet(s"$tmp/old_report"),
            spark.read.parquet(s"$tmp/old_index"),
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
            minAgree = 0.5).count()
        }
      }
      measure("group_safe_split", scale) {
        // the leakage-safe split: pairs + CC (both individually
        // measured) + one id-keyed join back + a pure md5-bucket
        // projection — the claim under test is wall ≈ dup_groups_cc
        // + ε with exactly one output row per doc
        Dedup.groupSafeSplit(docs, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
          salt = "split25", trainPct = 80, valPct = 10).count()
      }
      measure("dsir_select", scale) {
        // full train → score → resample loop; the claim under test is
        // linear scaling: the trained artifact stays dim-bounded (a
        // broadcast) while the corpus is touched twice (one bucket-
        // keyed agg, one doc-keyed agg), so there is no term that
        // grows faster than the corpus
        val target = operators.Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40
        // shared superset frontier (r22): the arm measures the same
        // one-exchange shape reportV2/p_dsir_resample now run
        val frontier = operators.Importance.affinityFrontier(
          docs, "doc_id", "text", isTarget = target)
        val counts = operators.Importance.targetAffinityCountsOver(
          frontier, "doc_id", "text", n = 2, dim = 1024)
        operators.Importance.resampleByAffinity(
          operators.Importance.scoreAffinityOver(
            docs, frontier, "doc_id", "text", counts, n = 2, dim = 1024),
          "doc_id").count()
      }
      measure("dsir_select_twopass", scale) {
        // A/B CONTROL for the shared-frontier arm above: the pre-r22
        // shape where each pass spreads the text through its own
        // exchange. Kept as a standing control so the frontier's win
        // (one text shuffle instead of two) stays measured, not
        // remembered.
        val target = operators.Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40
        val counts = operators.Importance.targetAffinityCounts(
          docs, "doc_id", "text", isTarget = target, n = 2, dim = 1024)
        operators.Importance.resampleByAffinity(
          operators.Importance.scoreAffinity(
            docs, "doc_id", "text", counts, n = 2, dim = 1024),
          "doc_id").count()
      }
      measure("bpe_train", scale) {
        // real-vocabulary merge learning (r12 #7): 1000 merges over
        // the amplified corpus — the `~i`/`#i` copy markers inflate
        // the VOCABULARY ~linearly with scale, the honest load for
        // the vocabulary-sized iteration table. The claim under test
        // is the batching contract. MEASURED VERDICT (50×, r14): the
        // order-safe admission rule yields ~1.7 merges/scan on this
        // English-like character distribution — hot pairs share
        // symbols, so the ceiling rule stops batches early; the
        // "jobs ≈ merges/maxPerScan" shape only holds for corpora
        // with many DISJOINT hot pairs (the scaladoc's stated
        // precondition). The honest claim is the A/B below: identical
        // learned sequence, ~23% fewer scheduler jobs (2312 vs 3002),
        // wall EQUAL within noise at local scale — the round-trip
        // savings matter on a real cluster's scheduling latency, not
        // on local[32].
        val jobs0 = stats.mark.jobs
        val merges = operators.BpeTrainer.train(
          docs, "text", nMerges = 1000, maxPerScan = 64)
        extraFields =
          s""","jobs":${stats.mark.jobs - jobs0},"merges":${merges.length},"max_per_scan":64"""
        merges.length.toLong
      }
      measure("bpe_train_seq", scale) {
        // sequential-greedy baseline arm (maxPerScan=1) for the
        // batching A/B: same corpus, same 1000 merges, one pair-count
        // scan per merge. Spec (BpeTrainerSpec) proves the SEQUENCE
        // equal; this measures what the batching buys at scale.
        val jobs0 = stats.mark.jobs
        val merges = operators.BpeTrainer.train(
          docs, "text", nMerges = 1000, maxPerScan = 1)
        extraFields =
          s""","jobs":${stats.mark.jobs - jobs0},"merges":${merges.length},"max_per_scan":1"""
        merges.length.toLong
      }
    }
    mergeResults(results.toSeq)
    spark.stop()
  }

  /** Merge freshly measured JSON lines into scale_stress.json instead
    * of overwriting: a filtered iteration run (op-substring args) must
    * not clobber the other ops' entries. Re-measured (op, scale) pairs
    * replace their old lines; everything else is preserved in file
    * order. */
  def mergeResults(results: Seq[String]): Unit = {
    val path = java.nio.file.Paths.get("scale_stress.json")
    val fresh = results.map { line =>
      val op = "\"op\":\"([^\"]+)\"".r.findFirstMatchIn(line).get.group(1)
      val sc = "\"scale\":(\\d+)".r.findFirstMatchIn(line).get.group(1)
      (op, sc) -> line
    }
    // the existing-file parse is best-effort by contract: a malformed
    // (hand-edited, pretty-printed, partially written) record must
    // never throw away the fresh measurements an hour-long run just
    // produced — fall back to overwriting with just the fresh lines.
    val existing =
      if (java.nio.file.Files.exists(path)) {
        scala.util.Try {
          val txt = java.nio.file.Files.readString(path).trim
            .stripPrefix("[").stripSuffix("]")
          if (txt.isEmpty) Seq.empty[((String, String), String)]
          else txt.split("\\},\\s*\\{").toSeq.map { frag =>
            val line = (if (frag.startsWith("{")) frag else "{" + frag) match {
              case l if l.endsWith("}") => l
              case l => l + "}"
            }
            val op = "\"op\":\"([^\"]+)\"".r.findFirstMatchIn(line).get.group(1)
            val sc = "\"scale\":(\\d+)".r.findFirstMatchIn(line).get.group(1)
            (op, sc) -> line
          }
        }.recover { case e =>
          System.err.println(
            s"[scale-stress] existing scale_stress.json unparseable (${e.getMessage}); " +
              "overwriting with this run's results only")
          Seq.empty[((String, String), String)]
        }.get
      } else Seq.empty[((String, String), String)]
    val freshKeys = fresh.map(_._1).toSet
    val merged = existing.filterNot(e => freshKeys(e._1)).map(_._2) ++ fresh.map(_._2)
    val out = merged.mkString("[", ",", "]")
    java.nio.file.Files.writeString(path, out)
    println(out)
  }
}
