package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamingOps
import graft.util.Session

/** Scale-stress harness for the STREAMING operators (VERDICT r12 #3 /
  * r13 #2): the batch family's 100 TB claims are measured by
  * [[ScaleStress]]; the streaming family's claims — bounded state and
  * flat per-batch latency — were until now proven only by construction
  * (spec-gated prefix≡batch equivalence). This main turns them into
  * measurements.
  *
  * Method: amplify the sf0.1 `documents` table with the IDENTICAL
  * deterministic near-dup injection as [[ScaleStress.amplifyDocs]]
  * (same content mix, so bucket pressure is the honest one), write it
  * round-robin into `nBatches` parquet files, and replay it as a file
  * stream with `maxFilesPerTrigger=1` — each file is one micro-batch,
  * everything stays distributed (no driver-side MemoryStream feed,
  * which would cap the measurable scale at driver heap).
  *
  * Evidence per op is the streaming progress feed itself: per-batch
  * `triggerExecution` wall ms and the state store's `numRowsTotal`
  * after every batch. The claims under test:
  *  - `uniform_sample_stream` — state ≤ k·|keys| FOREVER (hash-min-k
  *    monotone statistic); batch latency flat.
  *  - `near_dup_candidates_stream` — state ≤ maxBucket per occupied
  *    bucket; latency tracks per-batch banding cost, not history.
  *  - `simhash_drop_stream` — STATELESS (broadcast block probes):
  *    state rows identically zero, latency flat.
  *  - `importance_filter_stream` — STATELESS (pure expression gate):
  *    state rows identically zero, latency flat.
  * Output: one JSON line per (op, scale) with total seconds, output
  * rows, per-batch ms and per-batch state rows, merged into
  * `scale_stress.json` (same (op, scale)-keyed merge as the batch
  * harness). */
object StreamScaleStress {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val numeric = args.filter(_.forall(_.isDigit))
    val opFilter = args.filterNot(_.forall(_.isDigit)).toSeq
    val scales = if (numeric.nonEmpty) numeric.map(_.toInt).toSeq else Seq(10, 50)
    val spark = Session("graft-stream-scale-stress", logLevel = "WARN",
      extras = Seq("spark.sql.streaming.numRecentProgressUpdates" -> "256"))

    val work = java.nio.file.Files.createTempDirectory("graft-sss").toString
    val results = scala.collection.mutable.ArrayBuffer[String]()
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val nBatches = 10

    /** Run `mkQuery` over a `nBatches`-file replay of the amplified
      * corpus, drain it, and record total wall + the per-batch
      * latency/state series from the progress feed. */
    def measure(op: String, scale: Int, feedDir: String, outputMode: String)(
        mkQuery: DataFrame => DataFrame): Unit = {
      if (opFilter.nonEmpty && !opFilter.exists(op.contains)) return
      // CacheManager only: unpersisting would drop the localCheckpointed
      // artifacts built outside `measure`, which cannot be recomputed
      spark.catalog.clearCache()
      val ckpt = s"$work/ckpt-$op-$scale"
      val stream = spark.readStream
        .schema(spark.read.parquet(feedDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feedDir)
      val t0 = System.nanoTime()
      val q: StreamingQuery = mkQuery(stream).writeStream
        .format("noop")
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // progress rows with no input are idle ticks — drop them
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val batchMs = prog.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      val stateRows = prog.map(p =>
        Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L))
      val outRows = prog.map(p => p.sink.numOutputRows).sum
      val line =
        f"""{"op":"$op","scale":$scale,"sec":$sec%.2f,"rows":$outRows,""" +
          s""""batches":${prog.size},"batch_ms":[${batchMs.mkString(",")}],""" +
          s""""state_rows":[${stateRows.mkString(",")}]}"""
      println(line)
      results += line
    }

    for (scale <- scales) {
      val feedDir = s"$work/feed-$scale"
      // round-robin split: each micro-batch carries a scale/nBatches
      // slice of every copy family, so bucket/key pressure accretes
      // across batches — the honest load for state-bound claims
      ScaleStress.amplifyDocs(docs0, scale)
        .repartition(nBatches)
        .write.mode("overwrite").parquet(feedDir)

      measure("stream_uniform_sample", scale, feedDir, "update") { s =>
        StreamingOps.uniformSampleStream(
          s.withColumn("key", pmod(col("doc_id"), lit(100))),
          "key", "doc_id", k = 64, salt = "sss").toDF()
      }
      measure("stream_near_dup_candidates", scale, feedDir, "append") { s =>
        StreamingOps.nearDupCandidatesStream(
          s, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3).toDF()
      }
      // UNBOUNDED-horizon variant (VERDICT r14 #2): the same corpus
      // as 30 micro-batches through the INDEXED operator. Claims
      // under test: state-store rows identically ZERO at every batch
      // (membership lives in the parquet signature index, the
      // companion `index_rows` series — bounded per bucket, off the
      // state store), and per-batch latency tracking the batch's own
      // banding cost, not the history horizon.
      if (opFilter.isEmpty || opFilter.exists("stream_near_dup_indexed".contains)) {
        val nB = 30
        val feed30 = s"$work/feed30-$scale"
        ScaleStress.amplifyDocs(docs0, scale).repartition(nB)
          .write.mode("overwrite").parquet(feed30)
        val idxDir = s"$work/ndidx-$scale"
        val idxRows = scala.collection.mutable.ArrayBuffer[Long]()
        val idxFiles = scala.collection.mutable.ArrayBuffer[Int]()
        var outRows = 0L
        def parquetFiles(): Int = {
          def walk(f: java.io.File): Int =
            if (f.isDirectory) f.listFiles().map(walk).sum
            else if (f.getName.endsWith(".parquet")) 1 else 0
          val root = new java.io.File(idxDir)
          if (root.exists()) walk(root) else 0
        }
        val stream = spark.readStream
          .schema(spark.read.parquet(feed30).schema)
          .option("maxFilesPerTrigger", "1").parquet(feed30)
        val t0 = System.nanoTime()
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            outRows += StreamingOps.nearDupCandidatesIndexed(
              b, id, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
              indexDir = idxDir).count()
            // maintenance cadence: fold committed history every 10
            // triggers — the file-count series must PLATEAU instead
            // of growing one dir per trigger forever (the metadata
            // scale-killer the compactor exists for)
            if ((id + 1) % 10 == 0)
              StreamingOps.compactNearDupIndex(spark, idxDir)
            idxRows += spark.read.option("recursiveFileLookup", "true")
              .parquet(idxDir).count()
            idxFiles += parquetFiles()
            ()
          }
          .option("checkpointLocation", s"$work/ckpt-ndidx-$scale")
          .trigger(Trigger.ProcessingTime(0)).start()
        try q.processAllAvailable() finally q.stop()
        val sec = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        val batchMs = prog.map(p =>
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
        val stateRows = prog.map(p =>
          Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L))
        val line =
          f"""{"op":"stream_near_dup_indexed","scale":$scale,"sec":$sec%.2f,""" +
            s""""rows":$outRows,"batches":${prog.size},""" +
            s""""batch_ms":[${batchMs.mkString(",")}],""" +
            s""""state_rows":[${stateRows.mkString(",")}],""" +
            s""""index_rows":[${idxRows.mkString(",")}],""" +
            s""""index_files":[${idxFiles.mkString(",")}]}"""
        println(line)
        results += line
      }
      measure("stream_drift_counts", scale, feedDir, "update") { s =>
        // the online corpus monitor: state is the BUCKET SPACE
        // (≤ ~76 rows here — len_bin magnitudes + stop deciles),
        // never the corpus; the state_rows series must stay flat and
        // tiny while input grows — the bounded-horizon claim
        StreamingOps.driftCountsStream(s, "doc_id", "text")
      }
      // static artifacts for the two stateless gates come from the
      // UNAMPLIFIED corpus — the production shape (reference set /
      // trained counts are fixed; the stream is what scales)
      measure("stream_simhash_drop", scale, feedDir, "append") { s =>
        StreamingOps.dropSimhashNearDups(
          s, "doc_id", "text",
          graft.operators.Dedup.simhashBlockTable(docs0, "doc_id", "text"))
      }
      lazy val counts = graft.operators.Importance.collectCounts(
        graft.operators.Importance.targetAffinityCounts(
          docs0, "doc_id", "text",
          isTarget = pmod(col("doc_id"), lit(10)) === 0, n = 2, dim = 1024))
      // minAffinity=0.1: affinity = (sum_tgt+1)/(sum_raw+1) with a 10%
      // target slice, so scores concentrate around the 0.1 prior —
      // thresholds of 0.5/0.4 gated out EVERY document in probe runs.
      // Splitting at the prior keeps both branches of the gate on the
      // measured path (some docs pass, some drop).
      measure("stream_importance_filter", scale, feedDir, "append") { s =>
        StreamingOps.importanceFilterStream(
          s, "text", counts, minAffinity = 0.1)
      }
      // ---- streaming media gates: the image and audio block gates
      // over REAL payload streams (PNG decode + dHash, WAV decode +
      // envelope hash per arriving row). Catalog = every 10th id's
      // blocks (the "already ingested" slice, frozen — broadcast by
      // construction). Claims: zero state rows, flat per-batch wall
      // (the gate costs one decode+hash+broadcast-probe per row,
      // never the catalog or horizon), and a LIVE split (family
      // members of catalog heads drop; the rest keep).
      if (opFilter.isEmpty || opFilter.exists(f =>
          "stream_image_gate".contains(f) || "stream_audio_gate".contains(f) ||
            "stream_audio_gate_shifted".contains(f) ||
            "stream_audio_gate_resampled".contains(f) ||
            "stream_video_gate_shifted".contains(f) ||
            "stream_media_verdicts".contains(f))) {
        import spark.implicits._
        val nMedia = 2000 * scale
        val imgFeed = s"$work/imgfeed-$scale"
        (0 until nMedia).map { i =>
          val fam = i - i % 10
          val v = i % 10
          val shift = if (v == 1) 35 else if (v == 2) 60 else 0
          val b = if (v <= 2) fam else i
          (i.toLong, graft.operators.Multimodal.encodePng(48, 32, 3,
            (x, y, c) => ((x * 7 + y * 13 + c * 31) * (b % 9973 + 1) + b) % 190 + shift,
            y => (y + b) % 5))
        }.toDF("img_id", "payload")
          .repartition(nBatches).write.mode("overwrite").parquet(imgFeed)
        val imgBlocks = graft.operators.Multimodal.imageBlockTable(
          spark.read.parquet(imgFeed).filter(pmod(col("img_id"), lit(10)) === 0),
          "payload").localCheckpoint(true)
        measure("stream_image_gate", scale, imgFeed, "append") { s =>
          StreamingOps.dropImageNearDups(s, "img_id", "payload", imgBlocks)
        }
        val wavFeed = s"$work/wavfeed-$scale"
        (0 until nMedia).map { i =>
          val fam = i - i % 10
          val v = i % 10
          val gain = if (v == 1) 3 else if (v == 2) 5 else 1
          val b = if (v <= 2) fam else i
          (i.toLong, graft.operators.Multimodal.encodeWav(1 + b % 2, 8000, 200 + b % 97,
            (c, f) => ((((f * 31 + c * 17) * (b % 9973 + 1) + b) % 4001) - 2000) * gain))
        }.toDF("clip_id", "payload")
          .repartition(nBatches).write.mode("overwrite").parquet(wavFeed)
        val wavBlocks = graft.operators.Multimodal.audioBlockTable(
          spark.read.parquet(wavFeed).filter(pmod(col("clip_id"), lit(10)) === 0),
          "payload").localCheckpoint(true)
        measure("stream_audio_gate", scale, wavFeed, "append") { s =>
          StreamingOps.dropAudioNearDups(s, "clip_id", "payload", wavBlocks)
        }
        // trim-tolerant twin: the 32 KB bitmap artifact replaces the
        // four broadcast joins with ONE pure per-row expression —
        // claims: zero state, flat walls, and per-batch cost at or
        // under the join gate's (no join stage left in the plan)
        val wavBitmaps = graft.operators.Multimodal.audioSegmentBlockBitmaps(
          spark.read.parquet(wavFeed).filter(pmod(col("clip_id"), lit(10)) === 0),
          "payload", segFrames = 128)
        measure("stream_audio_gate_shifted", scale, wavFeed, "append") { s =>
          StreamingOps.dropAudioNearDupsShifted(
            s, "payload", wavBitmaps, segFrames = 128)
        }
        // rate-tolerant twin over a MIXED-RATE feed: families where
        // the catalog's 8 kHz recording re-arrives as a 16 kHz and a
        // 4 kHz ideal resample (gains 3/5); the ms-keyed bitmaps hit
        // all three rates (the frame-count gate's structural pass on
        // the exact forms). Same claims: zero state, flat walls,
        // join-free plan. 520 logical frames = 2 ms=65 segments per
        // clip at every rate.
        val arsFeed = s"$work/arsfeed-$scale"
        spark.range(nMedia).repartition(spark.sparkContext.defaultParallelism)
          .map { i =>
            val id: Long = i
            val fam = id - id % 10
            val v = id % 10
            val b = (if (v <= 2) fam else id).toInt
            val (rate, rep, gain) =
              if (v == 1) (16000, 4, 3) else if (v == 2) (4000, 1, 5) else (8000, 2, 1)
            (id, graft.operators.Multimodal.encodeWav(1, rate, 520 * rep,
              (c, f) => {
                val g = f / rep
                (((g * 31 + c * 17) * (b % 9973 + 1) + b) % 4001 - 2000) * gain
              }))
          }.toDF("clip_id", "payload")
          .repartition(nBatches).write.mode("overwrite").parquet(arsFeed)
        val arsBitmaps = graft.operators.Multimodal.audioSegmentBlockBitmapsMs(
          spark.read.parquet(arsFeed).filter(pmod(col("clip_id"), lit(10)) === 0),
          "payload", msPerSeg = 65)
        measure("stream_audio_gate_resampled", scale, arsFeed, "append") { s =>
          StreamingOps.dropAudioNearDupsResampled(
            s, "payload", arsBitmaps, msPerSeg = 65)
        }
        // video gate (bitmap form — the video column's only stream
        // gate): REAL AVI container walks per arriving row, catalog =
        // every 10th id's frame-hash blocks as the 32 KB artifact.
        // Claims: zero state, flat walls, join-free plan.
        val aviFeed = s"$work/avifeed-$scale"
        spark.range(nMedia).repartition(spark.sparkContext.defaultParallelism)
          .map { i =>
            val id: Long = i
            val fam = id - id % 10
            val v = id % 10
            val shift = if (v == 1) 35 else if (v == 2) 60 else 0
            val b = (if (v <= 2) fam else id).toInt
            (id, graft.operators.Multimodal.encodeAvi(16, 12, 8,
              (f, x, y, c) =>
                ((x * 7 + y * 13 + c * 31 + f * 17) * (b % 9973 + 1) + b) % 190 + shift))
          }.toDF("video_id", "payload")
          .repartition(nBatches).write.mode("overwrite").parquet(aviFeed)
        val aviBitmaps = graft.operators.Multimodal.videoFrameBlockBitmaps(
          spark.read.parquet(aviFeed).filter(pmod(col("video_id"), lit(10)) === 0),
          "payload", stride = 2)
        measure("stream_video_gate_shifted", scale, aviFeed, "append") { s =>
          StreamingOps.dropVideoNearDupsShifted(
            s, "payload", aviBitmaps, stride = 2)
        }
        // mixed-stream curation VERDICTS: one pass over all three
        // kinds + junk with CaseWhen-lazy per-kind dispatch against
        // the three frozen 32 KB catalogs above. Claims: zero state,
        // flat walls, join-free, and per-batch cost ≈ the sum of the
        // matched kinds' decode costs (the dispatch never walks the
        // wrong decoder).
        if (opFilter.isEmpty || opFilter.exists("stream_media_verdicts".contains)) {
          val imgBitmaps = graft.operators.Multimodal.imageBlockBitmaps(
            spark.read.parquet(imgFeed).filter(pmod(col("img_id"), lit(10)) === 0),
            "payload")
          val mixedFeed = s"$work/mixedfeed-$scale"
          spark.read.parquet(imgFeed)
            .select(col("img_id").as("media_id"), col("payload"))
            .unionByName(spark.read.parquet(wavFeed)
              .select((col("clip_id") + nMedia).as("media_id"), col("payload")))
            .unionByName(spark.read.parquet(aviFeed)
              .select((col("video_id") + 2L * nMedia).as("media_id"), col("payload")))
            .unionByName(spark.range(nMedia / 40)
              .select((col("id") + 3L * nMedia).as("media_id"),
                encode(concat(lit("junk payload "), col("id").cast("string")), "UTF-8")
                  .as("payload")))
            .repartition(nBatches).write.mode("overwrite").parquet(mixedFeed)
          measure("stream_media_verdicts", scale, mixedFeed, "append") { s =>
            StreamingOps.mediaCurationVerdicts(
              s, "payload", imgBitmaps, aviBitmaps, wavBitmaps,
              videoStride = 2, audioSegFrames = 128, minFrac = 0.3)
          }
        }
      }
      // ---- streaming LM gate: the frozen backoff artifacts come
      // from the UNAMPLIFIED corpus's %10==0 reference slice
      // (reference models retrain rarely — fixed-size artifacts; the
      // stream is what scales). Claims under test: stateless (zero
      // state rows forever), per-batch wall flat across batches
      // (the gate is one fold per document — cost tracks the batch,
      // never the horizon or the model-training corpus).
      if (opFilter.isEmpty || opFilter.exists(f =>
          "stream_lm_gate".contains(f) || "stream_lm_gate_open".contains(f))) {
        val lmRef = docs0.filter(pmod(col("doc_id"), lit(10)) === 0)
        val uniDf = graft.operators.LanguageModel.ngramCounts(lmRef, "text", 1)
          .localCheckpoint(true)
        val biDf = graft.operators.LanguageModel.ngramCounts(lmRef, "text", 2)
          .localCheckpoint(true)
        val (u, b, nTot, voc) =
          graft.operators.LanguageModel.collectModel(uniDf, biDf)
        // self-calibrated threshold (the importance-gate lesson: a
        // fixed threshold on a synthetic corpus gates out EVERYTHING
        // and the measurement degenerates to output-empty): the
        // median ppl of the base corpus under this model — by
        // construction both branches of the gate stay on the
        // measured path; computed OUTSIDE the timed body, like every
        // artifact build
        val maxPpl = graft.operators.LanguageModel.perplexity(
            docs0, "doc_id", "text", uniDf, biDf)
          .agg(expr("approx_percentile(ppl, 0.5)")).head().getDouble(0)
        measure("stream_lm_gate", scale, feedDir, "append") { s =>
          StreamingOps.perplexityFilterStream(
            s, "text", u, b, nTot, voc, maxPpl = maxPpl)
        }
        // OPEN-VOCABULARY fallback (r18 — the documented alternative
        // in collectModel's bounded-artifact contract, measured):
        // when the model is too large to collect, keep the counts as
        // DataFrames and run the BATCH operator per micro-batch in
        // foreachBatch — gram-keyed shuffle-hash joins instead of a
        // baked-in hash map. A document's grams never straddle
        // batches, so the keep set equals the literal-map gate on
        // integer surfaces (ppl itself differs only by FP
        // reassociation). Claims: zero state rows, per-batch wall
        // flat across batches (the joins cost the BATCH × model,
        // never the horizon), kept-rows ≡ stream_lm_gate's.
        if (opFilter.isEmpty || opFilter.exists("stream_lm_gate_open".contains)) {
          var outRows = 0L
          val stream = spark.readStream
            .schema(spark.read.parquet(feedDir).schema)
            .option("maxFilesPerTrigger", "1").parquet(feedDir)
          val t0 = System.nanoTime()
          val q = stream.writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              outRows += graft.operators.LanguageModel.perplexityFilter(
                batch, "doc_id", "text", uniDf, biDf, maxPpl = maxPpl)
                .filter(col("keep")).count()
              ()
            }
            .option("checkpointLocation", s"$work/ckpt-lmopen-$scale")
            .trigger(Trigger.ProcessingTime(0)).start()
          try q.processAllAvailable() finally q.stop()
          val sec = (System.nanoTime() - t0) / 1e9
          val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          val batchMs = prog.map(p =>
            Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
          val stateRows = prog.map(p =>
            Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L))
          val line =
            f"""{"op":"stream_lm_gate_open","scale":$scale,"sec":$sec%.2f,""" +
              s""""rows":$outRows,"batches":${prog.size},""" +
              s""""batch_ms":[${batchMs.mkString(",")}],""" +
              s""""state_rows":[${stateRows.mkString(",")}]}"""
          println(line)
          results += line
        }
      }
      // ---- streaming decontamination twins. Held-out = the BASE
      // corpus's %10==0 slice: eval suites are fixed-size frozen
      // artifacts — they do NOT grow with the stream — so the static
      // side stays base-sized at every scale and the claims under
      // test are (a) per-batch wall flat across batches with ZERO
      // state rows (both gates stateless ⇒ unbounded horizon), and
      // (b) the Bloom gate's per-batch cost ≈ a map-side fold (no
      // join stage at all) vs the detection stream's explode + probe.
      if (opFilter.isEmpty || opFilter.exists(f =>
          "stream_contamination_hits".contains(f) ||
            "stream_decontaminate_bloom".contains(f))) {
        // artifact builds (once per eval-suite freeze in production)
        // sit OUTSIDE the timed bodies
        val heldOut5 = docs0.filter(pmod(col("doc_id"), lit(10)) === 0)
        val heldGrams5 = graft.operators.Fingerprint
          .heldOutGrams(heldOut5, "doc_id", "text", 5).localCheckpoint(true)
        val nG = heldGrams5.count()
        val bloom = graft.operators.Fingerprint.gramBloomFilter(
          heldOut5, "doc_id", "text", n = 5,
          expectedItems = nG, numBits = 28L * nG)
        measure("stream_contamination_hits", scale, feedDir, "append") { s =>
          StreamingOps.contaminationHitsStream(
            s, "doc_id", "text", heldGrams5, n = 5)
        }
        measure("stream_decontaminate_bloom", scale, feedDir, "append") { s =>
          StreamingOps.decontaminateStreamBloom(s, "text", bloom, n = 5)
        }
      }
    }
    ScaleStress.mergeResults(results.toSeq)
    spark.stop()
  }
}
