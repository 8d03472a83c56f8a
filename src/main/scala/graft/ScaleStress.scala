package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{CdcDecode, CdcFrame, PgOutput, UsersFixture}
import graft.operators._
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
  * bounded skew are the pass criteria, recorded in BASELINE.md.
  *
  * The harness is one ordered table of arms ([[arms]]). An arm names
  * the feeds it reads and the conf it runs under; its body returns its
  * row count and its own JSON fields. A feed is parquet under the
  * scratch root, written the first time a selected arm lists it —
  * always before that arm's clock starts, so every arm measures the
  * operator on many-file input, never the generator. */
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
    val (numeric, filter) = args.toSeq.partition(_.forall(_.isDigit))
    val scales = if (numeric.nonEmpty) numeric.map(_.toInt) else Seq(1, 10, 50)
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
    try mergeResults(run(spark, sfDir, scales, filter), Paths.get("scale_stress.json"))
    finally spark.stop()
  }

  /** Measure every arm whose name contains one of `filter`'s
    * substrings (every arm when empty) at each scale, in table order,
    * with the feeds under `root`. Prints and returns one JSON line per
    * (arm, scale). A substring that matches no arm is refused before
    * any feed is written or any job runs. */
  def run(spark: SparkSession, sfDir: String, scales: Seq[Int], filter: Seq[String],
      root: String = sys.props("java.io.tmpdir")): Seq[String] = {
    val names = armNames(spark)
    val unknown = filter.filterNot(f => names.exists(_.contains(f)))
    require(unknown.isEmpty, s"no ScaleStress arm matches ${unknown.mkString(", ")}")
    // every stage's line on stderr as it completes (crash-safe)
    val stats = new StageStats(printFromMs = 0)
    spark.sparkContext.addSparkListener(stats)
    try for {
      scale <- scales
      arm <- arms(spark, sfDir, root, scale, stats)
      if filter.isEmpty || filter.exists(arm.name.contains)
    } yield measure(spark, stats, scale, arm)
    finally spark.sparkContext.removeSparkListener(stats)
  }

  /** The arms' names in run order. */
  private[graft] def armNames(spark: SparkSession): Seq[String] =
    arms(spark, "", "", 1, new StageStats(printFromMs = 0)).map(_.name)

  /** One measured arm: `body` returns the row count and the arm's own
    * JSON fields (`"k":v,…`, empty for none). */
  private final case class Arm(name: String, feeds: Seq[Feed], body: () => (Long, String),
      conf: Seq[(String, String)] = Nil) {
    def under(kv: (String, String)*): Arm = copy(conf = kv)
  }

  private def arm(name: String, feeds: Feed*)(rows: => Long): Arm =
    Arm(name, feeds, () => (rows, ""))

  private def armWith(name: String, feeds: Feed*)(body: => (Long, String)): Arm =
    Arm(name, feeds, () => body)

  /** A parquet dir written by `make` on its first [[force]] and read
    * back once. A body reads it through [[df]], which refuses a feed
    * its arm does not list — it would be generated on the arm's clock. */
  private final class Feed(spark: SparkSession, dir: String, make: () => DataFrame) {
    private var read: Option[DataFrame] = None
    def force(): DataFrame = read.getOrElse {
      make().write.mode("overwrite").parquet(dir)
      read = Some(spark.read.parquet(dir))
      read.get
    }
    def df: DataFrame = read.getOrElse(throw new IllegalStateException(
      s"feed $dir is read by an arm that does not list it"))
  }

  /** Set the arm's conf, force its feeds, then time its body on a
    * clean block store; the conf is restored whatever happens. */
  private def measure(spark: SparkSession, stats: StageStats, scale: Int, arm: Arm): String = {
    val prev = arm.conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    arm.conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      arm.feeds.foreach(_.force())
      // drop lingering localCheckpoint blocks so arms don't interfere
      Session.isolate(spark)
      val from = stats.mark
      val t0 = System.nanoTime()
      val (rows, fields) = arm.body()
      val sec = (System.nanoTime() - t0) / 1e9
      stats.settle()
      val w = stats.since(from)
      val line =
        f"""{"op":"${arm.name}","scale":$scale,"sec":$sec%.2f,"rows":$rows,"tasks":${w.tasks},""" +
          s""""max_task_ms":${w.maxMs},"med_task_ms":${w.medianMs},"max_stage_med_ms":${w.maxStageMedianMs}""" +
          (if (fields.isEmpty) "}" else s",$fields}")
      println(line)
      line
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // WIDE-BINARY scan sizing (measured at 200×): the vectorized parquet
  // reader allocates columnarReaderBatchSize ROWS per batch — 4096 ×
  // ~55 KB AVI payloads is a ~225 MB contiguous ask per task and OOMs
  // the reader ("Cannot reserve additional contiguous bytes"). Any
  // 100 TB media lake sizes this to row width; 64 rows covers the
  // widest feed here (96-frame ≈ 220 KB payloads ⇒ ~14 MB/batch).
  private val WideRows = "spark.sql.parquet.columnarReaderBatchSize" -> "64"

  /** Copy families of ten ids: ids ≡ 1, 2 (mod 10) are variant `v` of
    * their family head and share its content base `b`; every other id
    * is its own base. Returns (b, v). */
  private def family(id: Long): (Int, Int) = {
    val v = (id % 10).toInt
    ((if (v <= 2) id - v else id).toInt, v)
  }

  /** A family variant's brightness shift (images, video) and gain (audio). */
  private def shiftOf(v: Int): Int = if (v == 1) 35 else if (v == 2) 60 else 0
  private def gainOf(v: Int): Int = if (v == 1) 3 else if (v == 2) 5 else 1

  // The family media formulas, keyed by the content base b. The linear
  // image formula is injective in b over the arms' id ranges (two ids
  // share it only when b1≡b2 mod 9973 AND mod 190 — lcm ≈ 1.9M, past
  // any measured N), so unrelated images never collapse into
  // accidental mega-families. Uniform brightness shifts are
  // dHash-invariant; the audio envelope hash is gain-invariant.
  private def pngPixel(b: Int, shift: Int)(x: Int, y: Int, c: Int): Int =
    ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190 + shift

  private def png(b: Int, shift: Int): Array[Byte] =
    Multimodal.encodePng(48, 32, 3, pngPixel(b, shift), y => (y + b) % 5)

  /** 32×24 AVI of `frames` frames starting at frame `skip` of base b. */
  private def avi(b: Int, shift: Int, frames: Int = 24, skip: Int = 0): Array[Byte] =
    Multimodal.encodeAvi(32, 24, frames, (f, x, y, c) =>
      ((x * 7 + y * 13 + c * 31 + (f + skip) * 17) * (b % 9973 + 1) + b) % 190 + shift)

  private def wavSample(b: Int)(c: Int, f: Int): Int =
    (((f * 31 + c * 17) * (b % 9973 + 1) + b) % 4001) - 2000

  /** Mono 8 kHz WAV of `frames` frames starting at frame `skip` of base b. */
  private def wav(b: Int, gain: Int, frames: Int = 4000, skip: Int = 0): Array[Byte] =
    Multimodal.encodeWav(1, 8000, frames, (c, f) => wavSample(b)(c, f + skip) * gain)

  /** The previous snapshot of a corpus (the p_curation_lineage
    * derivation): every 10th doc gone, content drift on doc_id % 7 == 3. */
  private def drifted(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 3,
          concat(col("text"), lit(" drifted crawl content here")))
          .otherwise(col("text")).as("text"))

  /** The arms at one scale, in run order, over feeds written under `root`. */
  private def arms(spark: SparkSession, sfDir: String, root: String, scale: Int,
      stats: StageStats): Seq[Arm] = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    def feed(name: String)(make: => DataFrame) =
      new Feed(spark, s"$root/graft-$name-$scale", () => make)
    // `n` generated rows (offset + i, payload(i)), spread over every core
    def gen(n: Long, idCol: String, offset: Long = 0L)(payload: Long => Array[Byte]) =
      spark.range(n).repartition(cores).map(i => (offset + i, payload(i))).toDF(idCol, "payload")
    // copy 0 of the first n original vectors: ANN queries and centroids
    // stay the ORIGINAL vectors, so only the searched corpus grows
    def copy0(emb: DataFrame, n: Long) =
      emb.filter(col("vec_id") < lit(n) * scale && pmod(col("vec_id"), lit(scale)) === 0)
    lazy val sfEmb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")

    // MATERIALIZED amplified corpora (r17 harness fix): lazily
    // amplified frames fuse the per-token copy transform into the base
    // corpus's scan — and sf0.1 documents.parquet is ONE file with ONE
    // row group, so at 200× that is ~1M document rewrites in a SINGLE
    // task (measured: 60% of the simhash arm's wall was the harness).
    // A real corpus at any scale is many-file parquet.
    val docs = feed("amp-docs") {
      amplifyDocs(spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"), scale)
        .repartition(cores)
    }
    val emb = feed("amp-emb")(amplifyEmbeddings(sfEmb, scale).repartition(cores))
    // ivfpq_recall_curve's corpus: every copy its own point
    val embPerturbed = feed("amp-emb-perturbed")(amplifyEmbeddingsPerturbed(sfEmb, scale).repartition(cores))
    // full pgoutput v1 frames (R/B/I/U('O' old image)/D('K' image)/C),
    // 2000 transactions per unit scale, on one ordered stream
    val cdc = feed("cdctp") {
      val relBytes = PgOutput.Encoder.relation(UsersFixture.relation)
      val relId = UsersFixture.RelId
      spark.range(2000 * scale).coalesce(1).mapPartitions { it =>
        import PgOutput.{Encoder => E, WText}
        def row(i: Long, tag: String) = Seq(
          WText(i.toString), WText(s"User $i $tag"), WText(s"u$i@example.com"),
          WText("active"), WText("2026-01-01 00:00:00"), WText("2026-01-01 00:00:00"))
        Iterator(CdcFrame(1L, 0L, relBytes)) ++ it.flatMap { i =>
          val base = 10L + i * 10
          Iterator(
            CdcFrame(base, 0L, E.begin()),
            CdcFrame(base + 1, 0L, E.insert(relId, row(i, "v1"))),
            CdcFrame(base + 2, 0L, E.update(relId, old = Some(('O', row(i, "v1"))), neu = row(i, "v2"))),
            CdcFrame(base + 3, 0L, E.delete(relId, 'K', row(i, "v2"))),
            CdcFrame(base + 4, 0L, E.commit()))
        }
      }.toDF()
    }
    // formulaic 48×32 RGB PNGs, 2000 per unit scale, brightness
    // families every 10 ids. dHash keys on GRADIENT SIGNS and the
    // linear formula has only ~190 gradient classes, so ids also
    // collapse into ~190 families of ~N/190 members — a deliberately
    // dup-HEAVY corpus, the image mirror of amplifyDocs' copy families
    // (measured: 984k pairs from 20k images, 20.9M from 200k —
    // OUTPUT-bound, while wall grows 6.5→13.0 s).
    val img = feed("imgfeed")(gen(2000 * scale, "img_id") { i =>
      val (b, v) = family(i)
      png(b, shiftOf(v))
    })
    // 200 uncompressed 32×24 AVIs of 24 frames per unit scale (~55 KB
    // each), brightness-shifted families (full frame-aligned matches)
    val nVid = 200 * scale
    val avi24 = feed("avifeed")(gen(nVid, "vid_id") { i =>
      val (b, v) = family(i)
      avi(b, shiftOf(v))
    })
    // same wire-frame volume as avi24 on 4×-longer containers
    val avi96 = feed("avifeed-long")(gen(nVid / 4, "vid_id") { i =>
      val (b, v) = family(i)
      avi(b, shiftOf(v), frames = 96)
    })
    // a still catalog of every 10th video's frame 0 (family heads)
    val stills = feed("stillfeed")(gen(nVid / 10, "img_id") { i =>
      Multimodal.encodePng(32, 24, 3, pngPixel((i * 10).toInt, 0))
    })
    // 500 mono 8 kHz 4000-frame WAVs per unit scale (~8 KB each),
    // gain-rescaled families
    val nAud = 500 * scale
    val wav4k = feed("awavfeed")(gen(nAud, "clip_id") { i =>
      val (b, v) = family(i)
      wav(b, gainOf(v))
    })
    // ARBITRARY-offset feed: the sawtooth above has a ~1.3-frame
    // period — DEGENERATE for sliding windows (every offset hashes
    // alike, flooding the value join). This is the oracle fixture's
    // quadratic-phase signal (decorrelated shifts): 2 gain variants
    // and one 37-frame NON-multiple trim per family. Same-content
    // classes must be exactly the families, so the modulus varies with
    // b (a fixed one gave b and b+4001 IDENTICAL clips — measured 19×
    // genuine pairs at 50×): 37 moduli × ~4000 residues ≫ 100k clips.
    val wavOffset = feed("awoffeed")(gen(nAud, "clip_id") { i =>
      val (b0, v) = family(i)
      val b = b0 + 1
      val p = 3989 + 2 * (b % 37)
      val trim = if (v == 2) 37 else 0
      Multimodal.encodeWav(1, 8000, 4000 - trim, (_, f) => {
        val g = f + trim
        (((g.toLong * g % p) * (b % p) + 7L * g + b) % p - p / 2).toInt *
          (if (v == 1) 3 else if (v == 2) 2 else 1)
      })
    })
    // MIXED-RATE feed: each family head also exists as a 16 kHz ideal
    // upsample (gain 3) and a 4 kHz downsample (gain 5); 2080 logical
    // frames = 65 ms segments at every rate (the exactness regime)
    val wavRates = feed("arsfeed")(gen(nAud, "clip_id") { i =>
      val (b, v) = family(i)
      val (rate, rep, gain) =
        if (v == 1) (16000, 4, 3) else if (v == 2) (4000, 1, 5) else (8000, 2, 1)
      Multimodal.encodeWav(1, rate, 2080 * rep, (c, f) => wavSample(b)(c, f / rep) * gain)
    })
    // 100 clips × 12 real ImageIO JPEG frames per unit scale: head +
    // quality-0.7 re-encode + +10 brightness nudge. Smooth per-family
    // gradients keep quantization noise inside the Hamming band, and
    // family-distinct slopes keep pair volume ~n (the arm measures
    // DECODE volume)
    val mjpeg = feed("mjpegfeed")(gen(100 * scale, "vid_id") { i =>
      val (b, v) = family(i)
      val nudge = if (v == 2) 10 else 0
      Multimodal.encodeAviMjpeg(48, 32, 12, (f, x, y, c) =>
        40 + ((x * (2 + b % 7) + y * (1 + b % 5) + c + f * 5 + b * 11) % 160) + nudge,
        if (v == 1) 0.7f else 0.9f)
    })
    // 200 videos per unit scale with 4000-frame mono PCM tracks, and a
    // clip catalog of n/10 cuts at segment boundaries (gain ×3 on odd
    // ids): every clip contains in exactly its source video
    val avAudio = feed("avfeed")(gen(nVid, "vid_id") { i =>
      val b = i.toInt
      Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x * 3 + y + f + c + b) % 200,
        audioChannels = 1, audioRate = 8000, audioFrames = 4000,
        audioSample = (c, f) => (((f * 53 + c * 17) * (b % 9973 + 1) + b) % 3989) - 1994)
    })
    val avClips = feed("avclipfeed")(gen(nVid / 10, "clip_id") { i =>
      val b = (i * 10).toInt // source video
      val trim = 128 * (1 + (i % 5)).toInt
      Multimodal.encodeWav(1, 8000, 512, (c, f) =>
        ((((f + trim) * 53 + c * 17) * (b % 9973 + 1) + b) % 3989 - 1994) * (if (i % 2 == 1) 3 else 1))
    })
    // history hash indexes, built OUTSIDE the clock (that is the
    // artifact's whole point), and 10% increments: half twins of
    // history heads (drop), half NOISE-shaped fresh content (keep —
    // the linear formulas have few gradient classes, so "fresh" linear
    // content would collide with history)
    val nImgHist = 2000 * scale
    val imgIndex = feed("imgidx")(
      Multimodal.imageHashIndex(gen(nImgHist, "img_id")(i => png(i.toInt, 0)), "img_id", "payload"))
    val imgIncrement = feed("imginc")(gen(nImgHist / 10, "img_id", offset = nImgHist) { i =>
      if (i % 2 == 0) png(((i * 10) % nImgHist).toInt, 35)
      else {
        val b = i.toInt
        Multimodal.encodePng(48, 32, 3,
          (x, y, c) => ((x * 7 + y) * (c * 5 + 3) * 73 + x * y * (b % 41 + 2) + b) % 256,
          y => (y + b) % 5)
      }
    })
    def noiseAvi(b: Int) = Multimodal.encodeAvi(32, 24, 24, (f, x, y, c) =>
      ((f * 7 + x) * (y * 5 + c) * 73 + x * y * (b % 41 + 2) + b) % 256)
    val vidIndex = feed("vididx")(Multimodal.videoFrameHashIndex(
      gen(nVid, "vid_id")(i => avi(i.toInt, 0)), "vid_id", "payload", stride = 4))
    val vidIncrement = feed("vidinc")(gen(nVid / 10, "vid_id", offset = nVid) { i =>
      if (i % 2 == 0) avi(((i * 10) % nVid).toInt, 0, frames = 20, skip = 4) // 4-frame trim
      else noiseAvi(i.toInt)
    })
    // animated GIFs, 100 per unit scale, ~10 composited frames each:
    // original, palette-permuted byte-different re-encode, 2-frame trim
    val gif = feed("giffeed")(gen(100 * scale, "gif_id") { i =>
      val (b0, v) = family(i)
      val b = b0 + 1
      val rot = if (v == 1) 77 else 0
      val trim = if (v == 2) 2 else 0
      def pal(k: Int) = (((k + rot) % 256 * 3 + b) % 256,
        ((k + rot) % 256 * 5 + 7) % 256, ((k + rot) % 256 * 11 + 3) % 256)
      // x·y·(b/251) term: a plain +b wraps content mod 256 (ids 256
      // apart encoded IDENTICAL pixels) — the per-block slope keeps
      // content unique across blocks
      Multimodal.encodeGifAnim(24, 18, 0, pal, (0 until (10 - trim)).map(f =>
        Multimodal.GifFrameSpec(0, 0, 24, 18, (x, y) =>
          ((x * 7 + y * 13 + (f + trim) * 29 + b + x * y * (b / 251)) % 256 + 256 - rot) % 256)))
    })
    // the MIXED curation corpus: 1000 images + 100 AVIs + 250 WAVs + 50
    // junk per unit scale, each family with its near-dup members
    val (mImg, mVid, mAud, mJunk) = (1000 * scale, 100 * scale, 250 * scale, 50 * scale)
    val mixed = feed("mixedfeed") {
      gen(mImg, "media_id") { i =>
        val (b, v) = family(i)
        png(b, shiftOf(v))
      }.union(gen(mVid, "media_id", offset = mImg) { i =>
        val (b, v) = family(i)
        avi(b, shiftOf(v))
      }).union(gen(mAud, "media_id", offset = mImg + mVid) { i =>
        val (b, v) = family(i)
        wav(b, gainOf(v))
      }).union(gen(mJunk, "media_id", offset = mImg + mVid + mAud) { i =>
        s"junk payload number $i, decodable by nothing".getBytes("UTF-8")
      })
    }
    // the mixed corpus's history artifacts (report + md5 keys and the
    // three fingerprint indexes) and the new corpus = history + 5%
    // additions per modality, half near-dups of history, half fresh
    def mediaReport(m: DataFrame) = Multimodal.mediaCurationReport(m, "media_id", "payload",
      imageMaxHamming = 3, videoStride = 4, videoMinFrac = 0.5,
      audioSegFrames = 128, audioMinFrac = 0.5)
    val mediaHistory = feed("medrep") {
      val old = mixed.force()
      mediaReport(old).join(old.select(col("media_id"),
        Multimodal.payloadMd5(col("payload")).as("payload_md5")), "media_id")
    }
    val imgHistIdx = feed("medixi")(Multimodal.imageHashIndex(mixed.force(), "media_id", "payload"))
    val vidHistIdx = feed("medixv")(Multimodal.videoFrameHashIndex(mixed.force(), "media_id", "payload", 4))
    val audHistIdx = feed("medixa")(Multimodal.audioSegmentHashIndex(mixed.force(), "media_id", "payload", 128))
    val mediaNew = feed("mednew") {
      val base = (mImg + mVid + mAud + mJunk).toLong
      mixed.force().unionByName(gen(mImg / 20, "media_id", offset = base) { i =>
        if (i % 2 == 0) png(((i * 10) % mImg).toInt, 20) // brightness-shifted history head
        else {
          val b = (base + i).toInt
          Multimodal.encodePng(48, 32, 3,
            (x, y, c) => ((x * 11 + y * 3 + c * 7) * (b % 9973 + 3) + b * 2) % 200, y => (y + b) % 5)
        }
      }.union(gen(mVid / 20, "media_id", offset = base + mImg / 20) { i =>
        if (i % 2 == 0) avi(((i * 10) % mVid).toInt, 0, frames = 20, skip = 4) // 4-frame trim
        else noiseAvi((base + mImg / 20 + i).toInt)
      }).union(gen(mAud / 20, "media_id", offset = base + mImg / 20 + mVid / 20) { i =>
        if (i % 2 == 0) wav(((i * 10) % mAud).toInt, 2, frames = 4000 - 512, skip = 512) // trim + gain
        else {
          val b = (base + mImg / 20 + mVid / 20 + i).toInt
          Multimodal.encodeWav(1, 8000, 4000, (c, f) =>
            (((f * 13 + c * 7) * (b % 9973 + 5) + b * 3) % 4001) - 2000)
        }
      }))
    }
    def report(d: DataFrame) =
      Curation.report(d, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
    val oldReport = feed("lin-old")(report(drifted(docs.force())))
    val newReport = feed("lin-new")(report(docs.force()))
    val incrHistory = feed("incr-report") {
      val old = drifted(docs.force())
      report(old).join(old.select(col("doc_id"), Dedup.fingerprint(col("text")).as("fingerprint")),
        Seq("doc_id"))
    }
    val incrIndex = feed("incr-index")(
      Dedup.minhashIndex(drifted(docs.force()), "doc_id", "text", n = 3, k = 12))

    Seq(
      // CDC decode throughput: the reference's ONE intrinsic number is
      // a ~3 events/s ceiling (BASELINE.md reference table); this is
      // the repo's counterpart on the same wire format through the
      // production CdcDecode.decode path. One replication stream is a
      // totally ordered SERIAL unit (SURVEY §4.2), so this is
      // PER-STREAM throughput; slots scale it linearly. The feed is
      // parquet, read in file order: the stream order is restored by a
      // spillable sort, never by holding the stream on the heap.
      armWith("cdc_decode_throughput", cdc) {
        val frames = cdc.df.as[CdcFrame].coalesce(1).sortWithinPartitions("lsn")
        CdcDecode.resetStream(s"tp$scale")
        val events = CdcDecode.decode(frames, streamId = s"tp$scale").count()
        (events, s""""events":$events""")
      },
      arm("minhash_near_dup_pairs", docs) {
        Dedup.nearDupPairsShingled(docs.df, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5).count()
      },
      arm("simhash_near_dup", docs) {
        Dedup.simhashNearDupPairs(docs.df, "doc_id", "text", maxHamming = 3).count()
      },
      // REAL PNG decode (inflate + unfilter) + dHash + the shared
      // pigeonhole join; the dup-heavy shape exercises the flood-block
      // chunking exactly like amplified text
      arm("image_near_dup", img) {
        Multimodal.imageNearDupPairs(img.df, "img_id", "payload", maxHamming = 3).count()
      },
      // video at container volume (r18, post one-pass fix): wall tracks
      // CONTAINER volume linearly — one walk per video, 72 wire samples
      // per sampled frame — never frames×decodes
      arm("video_near_dup", avi24) {
        Multimodal.videoNearDupPairs(avi24.df, "vid_id", "payload", stride = 4).count()
      }.under(WideRows),
      // the shift-tolerant set-overlap form on the SAME feed; the extra
      // cost is the distinct over (id, hash) rows. chunkSize 256, not
      // the media-family 1024: 500× A/B (BASELINE.md r20) — identical
      // 7,791,265 rows, 17.5→12.5 s, max-task/stage-median 3.15→1.13
      arm("video_near_dup_shifted", avi24) {
        Multimodal.videoNearDupPairsShifted(avi24.df, "vid_id", "payload", stride = 4,
          chunkSize = 256).count()
      }.under(WideRows),
      // FRAMES linearity (the r17 verdict's exact question): same wire
      // frame volume and stride ratio as video_near_dup on 4×-longer
      // containers — linear ⇒ wall ≈ that arm's; the quadratic form
      // would pay ~16× the frame decodes
      arm("video_near_dup_long", avi96) {
        Multimodal.videoNearDupPairs(avi96.df, "vid_id", "payload", stride = 16).count()
      }.under(WideRows),
      // cross-modal containment: the still catalog against the video
      // feed's sampled frames — heads and variants match at Hamming 0
      arm("video_image_matches", avi24, stills) {
        Multimodal.videoImageMatches(avi24.df, "vid_id", "payload", 4,
          stills.df, "img_id", "payload", maxHamming = 3).count()
      }.under(WideRows),
      // decode volume + the audited block/chunk machinery, nothing
      // op-specific: the same pigeonhole join as image/simhash
      arm("audio_near_dup", wav4k) {
        Multimodal.audioNearDupPairs(wav4k.df, "clip_id", "payload", maxHamming = 3).count()
      },
      // trim-tolerant segment sets on the SAME feed: 31 128-frame
      // segments per clip, exact set overlap; a huge chunkSize forces
      // the pre-r19 single-cell join shape for same-session A/B
      arm("audio_near_dup_shifted", wav4k) {
        Multimodal.audioNearDupPairsShifted(wav4k.df, "clip_id", "payload",
          segFrames = 128, chunkSize = 1024).count()
      },
      // hop=1 emits ~3873 sliding hashes per clip — the documented
      // ~128× probe-volume price of full trim tolerance (catalog side
      // stays single-phase); a larger hop trades it back
      arm("audio_near_dup_offset", wavOffset) {
        Multimodal.audioNearDupPairsOffset(wavOffset.df, "clip_id", "payload",
          segFrames = 128, hop = 1).count()
      },
      // sample-rate-tolerant matcher over the mixed-rate feed (r20).
      // The sawtooth also collides ACROSS ids, so output grows
      // dup-heavy (192 pairs at 1×, 145k at 50×). chunkSize 256:
      // same-session 200× A/B (BASELINE.md r20) — identical 1,994,968
      // rows, wall-neutral, max-task/stage-median 1.50→1.12
      arm("audio_resample_near_dup", wavRates) {
        Multimodal.audioNearDupPairsResampled(wavRates.df, "clip_id", "payload",
          msPerSeg = 65, chunkSize = 256).count()
      },
      // per-SAMPLED-frame JPEG decode stays linear and the container
      // walk one-pass. chunkSize 128 by the 500× A/B ladder: 1024→32.0 s
      // @2.57, 256→23.0 s @1.46, 128→16.6 s @1.02, rows identical
      arm("video_near_dup_mjpeg", mjpeg) {
        Multimodal.videoNearDupPairsShifted(mjpeg.df, "vid_id", "payload",
          stride = 4, minFrac = 0.5, maxHamming = 3, chunkSize = 128).count()
      }.under(WideRows),
      arm("audio_video_matches", avAudio, avClips) {
        Multimodal.audioVideoMatches(avAudio.df, "vid_id", "payload",
          avClips.df, "clip_id", "payload", segFrames = 128, minFrac = 0.5).count()
      }.under(WideRows),
      // increment cost scales with the INCREMENT + index size, never
      // re-decoding history
      arm("incremental_image_dedup", imgIndex, imgIncrement) {
        Multimodal.dedupImagesAgainstIndex(imgIncrement.df, "img_id", "payload",
          imgIndex.df, maxHamming = 3).count()
      }.under(WideRows),
      // audio shares the identical setOverlapIdsAgainstIndex core and
      // plan — one growth arm covers the shape
      arm("incremental_video_dedup", vidIndex, vidIncrement) {
        Multimodal.dedupVideosAgainstIndex(vidIncrement.df, "vid_id", "payload",
          vidIndex.df, stride = 4, minFrac = 0.5).count()
      }.under(WideRows),
      // the shifted set-overlap family over the GIF container, every
      // frame's LZW paid (delta compositing is sequential by nature)
      arm("gif_anim_near_dup", gif) {
        Multimodal.videoNearDupPairsShifted(gif.df, "gif_id", "payload", stride = 1).count()
      }.under(WideRows),
      // all three dedup machineries + three CC passes + the assembly
      // join; the filter on the computed verdict blocks the
      // count()-prune trap (the left-join subtree must execute)
      arm("media_curation", mixed) {
        mediaReport(mixed.df).filter(col("verdict") === "drop").count()
      }.under(WideRows),
      // INCREMENTAL media curation (r20): ONE md5 scan over the corpus
      // plus decode/judge for the increment only — history is never
      // re-decoded, so walls are increment-bound as history grows
      arm("incremental_media_curation", mediaNew, mediaHistory, imgHistIdx, vidHistIdx, audHistIdx) {
        Multimodal.incrementalMediaCurationReport(mediaNew.df, "media_id", "payload",
          mediaHistory.df, imgHistIdx.df, vidHistIdx.df, audHistIdx.df,
          imageMaxHamming = 3, videoStride = 4, videoMinFrac = 0.5,
          audioSegFrames = 128, audioMinFrac = 0.5)
          .filter(col("reason").isNotNull).count() // no count()-prune
      }.under(WideRows),
      // the prefix-filtered inverted-index (PPJoin/AllPairs) exact join,
      // p_ngram_jaccard_pairs' parameters: prefix filtering keeps
      // candidate growth output-bound. Shuffle parallelism scales with
      // the amplified volume the way a real deployment sizes it: at ≥64×
      // the overlap agg's ~1.2B-row key space OOM'd the 8 GiB local JVM
      // at 32 reducers (measured r14: a G1 young cap does NOT save it;
      // 2× heap or ≥4× reducers both do, and 256 sufficed). The
      // operator reads the conf via pinnedParts.
      armWith("ngram_jaccard_ppjoin", docs) {
        (Dedup.ngramJaccardPairs(docs.df, "doc_id", "text", n = 3, threshold = 0.5).count(),
          if (scale >= 64) s""""reducers":256""" else "")
      }.under((if (scale >= 64) Seq("spark.sql.shuffle.partitions" -> "256") else Nil): _*),
      arm("dup_groups_cc", docs) {
        Graph.connectedComponents(
          Dedup.nearDupPairsShingled(docs.df, "doc_id", "text",
            n = 3, k = 12, rowsPerBand = 3, threshold = 0.5),
          "id_a", "id_b").count()
      },
      // amplified copies share most 8-token spans with the original, so
      // duplicated-span volume grows with scale
      arm("span_dedup", docs) {
        Dedup.spanDupStats(docs.df, "doc_id", "text", size = 8, maxDupFrac = 0.5).count()
      },
      // the stride-1 maximal-region pipeline (k rows per token vs
      // span_dedup's 1 row per k tokens): the load for the per-doc
      // island merge
      arm("dup_spans_maximal", docs) {
        Dedup.dupSpans(docs.df, "doc_id", "text", k = 8).count()
      },
      arm("split_contamination", docs) {
        val b = docs.df.withColumn("__sb", Sampling.hashBucket(col("doc_id"), "split25", 100))
        Fingerprint.ngramContamination(
          b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90), "doc_id", "text", n = 5).count()
      },
      // the removal twin of split_contamination: the full train payload
      // rides ONLY the final id-keyed anti-join
      arm("decontaminate", docs) {
        val b = docs.df.withColumn("__sb", Sampling.hashBucket(col("doc_id"), "split25", 100))
        Fingerprint.decontaminate(
          b.filter(col("__sb") < 80), b.filter(col("__sb") >= 90), "doc_id", "text", n = 5).count()
      },
      // snapshot-to-snapshot distribution monitor: two map-side passes,
      // the shuffle carries only (feature, bucket) aggregates. Output is
      // bucket-bounded; the ppm columns are forced through an aggregate
      // (count-prune lesson)
      armWith("corpus_drift", docs) {
        val r = Drift.report(drifted(docs.df), docs.df, "doc_id", "text")
          .agg(count(lit(1)).as("n"), sum(abs(col("delta_ppm"))).as("tv")).collect()(0)
        (r.getLong(0), s""""sum_abs_delta_ppm":${r.getLong(1)}""")
      },
      // exact corpus-wide row_number by (n_tokens, doc_id) over HEAVY
      // key ties (every copy family shares its token count); max(rank)
      // must equal the row count
      arm("global_rank", docs) {
        val keyed = docs.df.repartition(cores)
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        val r = Rank.globalRank(keyed, "doc_id", "n_tokens")
          .agg(count(lit(1)).as("n"), max("rank").as("m")).collect()(0)
        require(r.getLong(0) == r.getLong(1),
          s"rank invariant broken: n=${r.getLong(0)} max_rank=${r.getLong(1)}")
        r.getLong(0)
      },
      // token-balanced sharding with NO SinglePartition stage; buckets
      // scale with the corpus (16·scale) so per-bucket deals stay
      // ~constant-sized
      armWith("shard_balanced", docs) {
        val out = Shards.assignBalanced(docs.df, "doc_id", "text",
          nShards = 16, numBuckets = 16 * scale, salt = "shard")
        val m = Shards.manifest(out, "doc_id")
          .agg(min("total_tokens"), max("total_tokens"), sum("n_docs")).collect()(0)
        (m.getLong(2), f""""imbalance":${(m.getLong(1) - m.getLong(0)).toDouble / m.getLong(1)}%.4f""")
      },
      // the six-gate log (LM model trained on the 40% lmref slice: the
      // `#i` markers inflate the vocabulary linearly). Aggregate over
      // `kept`, which depends on every gate, so no join is prunable
      armWith("curation_v3", docs, emb) {
        val r = Curation.reportV3(
          docs.df, "doc_id", "text", emb.df, "vec_id", "embedding",
          copy0(emb.df, 16), "vec_id", "embedding",
          isTarget = Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40,
          lmRef = Sampling.hashBucket(col("doc_id"), "lmref", 100) < 40,
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
          dsirDim = 512, dsirSalt = "dsir", minAffinity = 0.4,
          outlierFraction = 0.1, minHitFrac = 0.99)
          .agg(count(lit(1)).as("n"), sum(when(col("kept"), 1L).otherwise(0L)).as("k")).collect()(0)
        (r.getLong(0), s""""kept":${r.getLong(1)}""")
      },
      // the backoff-LM gate end to end: the vocabulary-sized model
      // artifacts stay DataFrames on gram-keyed shuffle-hash joins.
      // Filter on a SCORE column: a bare count() over the final
      // id-keyed left join lets Catalyst prune the whole gram-join
      // subtree (measured: 2 tasks, sub-second "wall")
      arm("lm_perplexity", docs) {
        val b = docs.df.withColumn("__sb", Sampling.hashBucket(col("doc_id"), "lmref", 100))
        val ref = b.filter(col("__sb") < 40).select("doc_id", "text")
        val tgt = b.filter(col("__sb") >= 40).select("doc_id", "text")
        LanguageModel.perplexity(tgt, "doc_id", "text",
          LanguageModel.ngramCounts(ref, "text", 1), LanguageModel.ngramCounts(ref, "text", 2))
          .filter(col("avg_logprob").isNotNull).count()
      },
      // the ADC-scan cost model: O(corpus × queries) map probes
      arm("pq_topk", emb) {
        val cb = Similarity.pqCodebookFrom(copy0(emb.df, 16), "vec_id", "embedding", m = 4)
        Similarity.pqTopK(copy0(emb.df, 20), "vec_id", emb.df, "vec_id", "embedding",
          cb, m = 4, k = 10).count()
      },
      arm("ivf_topk", emb) {
        Similarity.ivfTopK(copy0(emb.df, 20), "vec_id", emb.df, "vec_id", "embedding",
          copy0(emb.df, 16), "vec_id", "embedding", k = 10, nProbe = 2).count()
      },
      // ONE broadcast-argmax pass + a narrow (cell, id) rank whose sort
      // volume WindowGroupLimit caps at k per cell
      arm("cell_balanced_sample", emb) {
        Similarity.cellBalancedSample(emb.df, "vec_id", "embedding",
          copy0(emb.df, 16), "vec_id", "embedding", perCellK = 2000, salt = "cbs").count()
      },
      // the IVF-PQ plan with its PRODUCTION inputs (trainCentroids +
      // pqTrainCodebook, nProbe=4) instead of the oracle queries'
      // deterministic toy quantizer; plan shape is identical to
      // ivfpq_topk. The corpus is spread first: the trainers' work is
      // map-side, so unspread it serializes onto the 1–2 scan
      // partitions. Raw ADC rank collapses onto each copy family's
      // shared codes (recall ≈ k/family); the refine stage is where the
      // recall target lives, and both numbers ride the line
      armWith("ivfpq_trained_recall", emb) {
        val corpus = emb.df.repartition(cores).localCheckpoint(true)
        val queries = copy0(corpus, 20)
        val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding", nCells = 16, iters = 5)
        val cb = Similarity.pqTrainCodebook(corpus, "vec_id", "embedding", m = 4, ks = 256, iters = 5)
        val brute = Similarity.bruteForceTopKL2(queries, "vec_id", corpus, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id")
        def recallOf(hits: DataFrame): (Long, Double) = {
          val agg = brute
            .join(hits.select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
              Seq("query_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("nb"), sum(coalesce(col("__hit"), lit(0L))).as("nh"))
            .collect()(0)
          (agg.getLong(1), agg.getLong(1).toDouble / agg.getLong(0))
        }
        val (_, raw) = recallOf(Similarity.ivfPqTopK(
          queries, "vec_id", corpus, "vec_id", "embedding",
          cents, "cent_id", "cent_vec", cb, m = 4, k = 10, nProbe = 4))
        val (refHits, refined) = recallOf(Similarity.ivfPqTopKRefined(
          queries, "vec_id", corpus, "vec_id", "embedding",
          cents, "cent_id", "cent_vec", cb, m = 4, k = 10, nProbe = 4, refine = 100))
        (refHits, f""""recall":$raw%.3f,"recall_refined":$refined%.3f,""" +
          s""""n_probe":4,"n_cells":16,"pq_ks":256,"refine":100""")
      },
      // the refined ANN SERVING pair (VERDICT r14 #4): the query paths
      // alone, raw ADC vs + exact refine, on the copy-0 quantizer. Each
      // body builds its OWN spread corpus (isolation drops every
      // localCheckpoint between arms), so the refined-minus-raw delta
      // is exactly the refine stage's cost
      armWith("ivfpq_topk_raw", emb) {
        val corpus = emb.df.repartition(cores).localCheckpoint(true)
        val cents = copy0(corpus, 16)
        val cb = Similarity.pqCodebookFrom(cents, "vec_id", "embedding", m = 4)
        (Similarity.ivfPqTopK(copy0(corpus, 20), "vec_id", corpus, "vec_id", "embedding",
          cents, "vec_id", "embedding", cb, m = 4, k = 10, nProbe = 4).count(),
          s""""n_probe":4,"k":10""")
      },
      armWith("ivfpq_refined_topk", emb) {
        val corpus = emb.df.repartition(cores).localCheckpoint(true)
        val cents = copy0(corpus, 16)
        val cb = Similarity.pqCodebookFrom(cents, "vec_id", "embedding", m = 4)
        (Similarity.ivfPqTopKRefined(copy0(corpus, 20), "vec_id", corpus, "vec_id", "embedding",
          cents, "vec_id", "embedding", cb, m = 4, k = 10, nProbe = 4, refine = 100).count(),
          s""""n_probe":4,"k":10,"refine":100""")
      },
      // recall-vs-nProbe on the PERTURBED amplification (VERDICT r14
      // #5): every copy is its own point, so the curve measures
      // quantizer quality. Fully trained inputs, as ivfpq_trained_recall
      armWith("ivfpq_recall_curve", embPerturbed) {
        val corpus = embPerturbed.df.repartition(cores).localCheckpoint(true)
        val queries = copy0(corpus, 20)
        val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding", nCells = 16, iters = 5)
        val cb = Similarity.pqTrainCodebook(corpus, "vec_id", "embedding", m = 4, ks = 256, iters = 5)
        val brute = Similarity.bruteForceTopKL2(queries, "vec_id", corpus, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id").localCheckpoint(true)
        val nb = brute.count().toDouble
        val curve = Seq(1, 2, 4, 8).map { nProbe =>
          val hits = Similarity.ivfPqTopK(
            queries, "vec_id", corpus, "vec_id", "embedding",
            cents, "cent_id", "cent_vec", cb, m = 4, k = 10, nProbe = nProbe)
            .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
          val nh = brute.join(hits, Seq("query_id", "neighbor_id"), "left")
            .agg(sum(coalesce(col("__hit"), lit(0L)))).collect()(0).getLong(0)
          f""""recall_nprobe_$nProbe":${nh / nb}%.3f"""
        }
        (nb.toLong, curve.mkString(",") + s""","n_cells":16,"pq_ks":256,"k":10""")
      },
      // the five-gate log; amplified doc and embedding ids stay aligned
      // (both id*scale+i), so the prototypicality gate joins real rows.
      // The composition adds only broadcast passes and id-keyed joins
      arm("curation_v2", docs, emb) {
        Curation.reportV2(
          docs.df, "doc_id", "text", emb.df, "vec_id", "embedding",
          copy0(emb.df, 16), "vec_id", "embedding",
          isTarget = Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40,
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
          dsirDim = 512, dsirSalt = "dsir", minAffinity = 0.4,
          outlierFraction = 0.1).count()
      },
      // cross-run provenance as p_curation_lineage: ONE fingerprint-
      // keyed full-outer and two id-keyed report joins on top of its two
      // report runs, so wall ≈ 2× report + ε
      arm("curation_lineage", docs) {
        val oldDocs = drifted(docs.df)
        Curation.lineage(oldDocs, docs.df, report(oldDocs), report(docs.df), "doc_id", "text").count()
      },
      // the documented 100 TB shape: a recurring pipeline persists each
      // run's decision log, so the report builds sit OUTSIDE the clock
      // and the arm isolates the lineage diff itself
      arm("curation_lineage_persisted", docs, oldReport, newReport) {
        Curation.lineage(drifted(docs.df), docs.df, oldReport.df, newReport.df, "doc_id", "text").count()
      },
      // the A/B partner of incremental_curation: the full 3-gate report
      arm("curation_report_full", docs) {
        report(docs.df).count()
      },
      // the delta-proportional claim: history (old report + fingerprints
      // + minhash index) persisted OUTSIDE the clock; the timed step pays
      // the reuse decision, the delta gates (~22% of the corpus: %10==0
      // added + %7==3 changed) and the signature-index joins
      arm("incremental_curation", docs, incrHistory, incrIndex) {
        Curation.incrementalReport(docs.df, "doc_id", "text", incrHistory.df, incrIndex.df,
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5, minAgree = 0.5).count()
      },
      // pairs + CC + one id-keyed join back + an md5-bucket projection:
      // wall ≈ dup_groups_cc + ε with one output row per doc
      arm("group_safe_split", docs) {
        Dedup.groupSafeSplit(docs.df, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, threshold = 0.5,
          salt = "split25", trainPct = 80, valPct = 10).count()
      },
      // train → score → resample, linear: the artifact stays dim-bounded
      // (a broadcast). The shared superset frontier (r22) is the
      // one-exchange shape reportV2/p_dsir_resample run
      arm("dsir_select", docs) {
        val frontier = Importance.affinityFrontier(docs.df, "doc_id", "text",
          isTarget = Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40)
        val counts = Importance.targetAffinityCountsOver(frontier, "doc_id", "text", n = 2, dim = 1024)
        Importance.resampleByAffinity(
          Importance.scoreAffinityOver(docs.df, frontier, "doc_id", "text", counts, n = 2, dim = 1024),
          "doc_id").count()
      },
      // standing A/B control: the pre-r22 shape, each pass spreading the
      // text through its own exchange
      arm("dsir_select_twopass", docs) {
        val counts = Importance.targetAffinityCounts(docs.df, "doc_id", "text",
          isTarget = Sampling.hashBucket(col("doc_id"), "tgt", 100) < 40, n = 2, dim = 1024)
        Importance.resampleByAffinity(
          Importance.scoreAffinity(docs.df, "doc_id", "text", counts, n = 2, dim = 1024),
          "doc_id").count()
      },
      // 1000 merges; the copy markers inflate the vocabulary ~linearly.
      // MEASURED VERDICT (50×, r14): the order-safe admission rule
      // yields ~1.7 merges/scan on this English-like distribution (hot
      // pairs share symbols); the batching A/B below gives an identical
      // learned sequence with ~23% fewer jobs (2312 vs 3002) and equal
      // wall at local scale — the savings matter on a real cluster's
      // scheduling latency
      bpeArm("bpe_train", docs, stats, maxPerScan = 64),
      // the sequential-greedy baseline (maxPerScan=1); BpeTrainerSpec
      // proves the sequence equal
      bpeArm("bpe_train_seq", docs, stats, maxPerScan = 1))
  }

  private def bpeArm(name: String, docs: Feed, stats: StageStats, maxPerScan: Int): Arm =
    armWith(name, docs) {
      val jobs0 = stats.mark.jobs
      val merges = BpeTrainer.train(docs.df, "text", nMerges = 1000, maxPerScan = maxPerScan)
      (merges.length.toLong,
        s""""jobs":${stats.mark.jobs - jobs0},"merges":${merges.length},"max_per_scan":$maxPerScan""")
    }

  /** Merge freshly measured JSON lines into the results file at `path`
    * instead of overwriting it: a filtered run must not clobber the
    * other arms' entries. A re-measured (op, scale) replaces its old
    * entry, every other entry keeps its place in file order, and the
    * fresh ones follow. Numbers keep their written form. An
    * unparseable file never costs the fresh measurements: it is
    * replaced by them alone. */
  def mergeResults(results: Seq[String], path: Path): Unit = {
    val json = JsonMapper.builder()
      .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
      .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
      .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
      .build()
    def key(n: JsonNode) = (n.get("op").asText, n.get("scale").asInt)
    val fresh = results.map(l => json.readTree(l))
    val existing = if (!Files.exists(path)) Nil else Try {
      val root = json.readTree(path.toFile)
      require(root.isArray || root.isMissingNode, "not a JSON array")
      root.elements.asScala.toSeq.map(n => key(n) -> n)
    }.recover { case e =>
      System.err.println(
        s"[scale-stress] existing $path unparseable (${e.getMessage}); " +
          "overwriting with this run's results only")
      Nil
    }.get
    val freshKeys = fresh.map(key).toSet
    val merged = json.createArrayNode()
      .addAll((existing.collect { case (k, n) if !freshKeys(k) => n } ++ fresh).asJava)
    val out = json.writeValueAsString(merged)
    Files.writeString(path, out)
    println(out)
  }
}
