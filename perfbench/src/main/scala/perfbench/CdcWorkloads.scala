package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cdc.{CdcDecode, CdcFrame, Changelog}
import graft.sources.CdcFrameFiles
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.{SinkConfig, StateStore}

/** The CDC workload: the `graft-cdc` source feeding
  * `CdcDecode.decode`, feeding `CdcPipeline`'s changelog sink (K1)
  * and current-state MERGE (K2).
  *
  * Untraced, the stream is `CdcPipeline.run` itself. Traced, the
  * micro-batch body takes the source's raw frames and performs
  * `processBatch`'s steps one public call at a time (read, decode,
  * K1 write, `Changelog.apply`, MERGE execution, `StateStore.write`),
  * each in a span. Both runs check their sinks against the
  * generator's model.
  */
object CdcWorkloads {
  import CdcFeed._

  /** One stream instance: its directories, feed and query. */
  final class Instance(ctx: Ctx, tag: String, val feed: CdcFeed) {
    val streamId = s"$tag-${ctx.seed}"
    val feedDir: String = ctx.dir(s"$tag/feed")
    val outDir: String = ctx.work.resolve(s"$tag/changelog").toString
    val stateDir: String = ctx.dir(s"$tag/state")
    val ckptDir: String = ctx.work.resolve(s"$tag/checkpoint").toString
    val cfg: SinkConfig = SinkConfig(streamId, outDir, stateDir, ckptDir, Table, KeyCol, ValueCols)
    val store = new StateStore(stateDir)
    var files = 0

    def write(frames: collection.Seq[CdcFrame]): Unit = {
      CdcFrameFiles.write(feedDir, f"f$files%06d", frames.toSeq)
      files += 1
    }
  }

  private def baseState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType((KeyCol +: ValueCols).map(StructField(_, StringType))))

  /** What the traced batch body accumulates. */
  final class BatchTrace {
    var rcharRead = 0L
    var admittedBytes = 0L
    var events = 0L
    var stateBytes = 0L
    var changedKeys = 0L
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  }

  /** Start the stream over `inst`'s feed, admission-capped at `cap` frames. */
  def start(ctx: Ctx, inst: Instance, cap: Long, spans: Option[(Spans, BatchTrace)]): StreamingQuery = {
    val spark = ctx.spark
    val frames = CdcPipeline.framesFromCdcSource(spark, inst.feedDir, maxFramesPerTrigger = cap)
    val base = baseState(spark)
    spans match {
      case None =>
        CdcPipeline.run(CdcDecode.decode(frames, inst.streamId), base, inst.cfg)
      case Some((sp, bt)) =>
        frames.toDF().writeStream
          .option("checkpointLocation", inst.ckptDir)
          .trigger(Trigger.ProcessingTime("0 seconds"))
          .foreachBatch { (raw: DataFrame, batchId: Long) =>
            tracedBatch(spark, inst, base, raw, batchId, sp, bt)
          }
          .start()
    }
  }

  /** `CdcPipeline.processBatch`'s steps, each timed, on the raw frames. */
  private def tracedBatch(spark: SparkSession, inst: Instance, base: DataFrame,
      raw: DataFrame, batchId: Long, sp: Spans, bt: BatchTrace): Unit = sp("batch") {
    import spark.implicits._
    val rc0 = Proc.rchar
    val stats = sp("sources.read") {
      raw.persist()
      raw.agg(count(lit(1)), sum(length(col("payload"))), min(col("lsn")), max(col("lsn"))).head()
    }
    bt.rcharRead += Proc.rchar - rc0
    val nFrames = stats.getLong(0)
    if (nFrames > 0) {
      bt.admittedBytes += stats.getLong(1) + nFrames * RecordHeaderBytes
      val wire = sp("cdc.decode") {
        val w = CdcDecode.toWireDf(CdcDecode.decode(raw.as[CdcFrame], inst.streamId)).persist()
        bt.events += w.count()
        w
      }
      sp("streaming.changelog_write") {
        wire.repartition(col("table"),
            coalesce(col("new_values")(KeyCol), col("old_values")(KeyCol)))
          .write.mode("overwrite").partitionBy("table")
          .parquet(s"${inst.outDir}/batch=$batchId")
      }
      if (inst.store.latestVersion.forall(_ < batchId)) {
        val current = inst.store.latest(spark).getOrElse(base)
        val next = sp("cdc.merge_build") { Changelog.apply(current, wire, Table, KeyCol, ValueCols) }
        sp("cdc.merge_exec") { next.persist(); next.count() }
        sp("streaming.state_write") { inst.store.write(next, batchId) }
        next.unpersist()
        bt.stateBytes += dirBytes(s"${inst.stateDir}/v=$batchId")
        bt.changedKeys += inst.feed.keysBetween(stats.getLong(2) - 1, stats.getLong(3))
      }
      wire.unpersist()
    }
    raw.unpersist()
  }

  /** Batches that admitted frames, as progress reports them. */
  final case class Batch(p: StreamingQueryProgress) {
    private val src = p.sources.head
    val start: Option[Long] = Lag.parseOffset(src.startOffset)
    val end: Long = Lag.parseOffset(src.endOffset).get
    val triggerStartMs: Long = Instant.parse(p.timestamp).toEpochMilli
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val commitMs: Long = triggerStartMs + dur("triggerExecution")
    def commit: BatchCommit = BatchCommit(start, end, commitMs)
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq
      .filter(p => p.sources.nonEmpty && p.sources.head.endOffset != null)
      .map(Batch)
      .filter(b => b.start.forall(_ < b.end))

  /** Check the instance's sinks against the generator: every event's
    * LSN exactly once in the changelog, and the state store equal to
    * the model value for value. Returns (attempted, failed). */
  def check(ctx: Ctx, inst: Instance): (Long, Long) = {
    val spark = ctx.spark
    val expected = inst.feed.eventLsn.toArray
    val got =
      if (!Files.exists(Paths.get(inst.outDir))) Array.empty[Long]
      else spark.read.parquet(inst.outDir).select("lsn").collect().map(_.getLong(0)).sorted
    val expectedSet = expected.toSet
    var lsnFailures = 0L
    val counts = got.groupBy(identity).view.mapValues(_.length).toMap
    expected.foreach(l => if (counts.getOrElse(l, 0) != 1) lsnFailures += 1)
    lsnFailures += got.count(l => !expectedSet.contains(l))

    val state = inst.store.latest(spark).map(_.collect()).getOrElse(Array.empty[Row])
    val model = inst.feed.model.asScala
    var stateFailures = 0L
    val seen = scala.collection.mutable.HashSet[Int]()
    state.foreach { r =>
      val key = r.getAs[String](KeyCol).toInt
      seen += key
      model.get(key) match {
        case Some(want) if ValueCols.indices.forall(i => r.getAs[String](ValueCols(i)) == want(i)) => ()
        case _ => stateFailures += 1
      }
    }
    stateFailures += model.keys.count(k => !seen.contains(k)) + (state.length - seen.size)
    val failed = lsnFailures + stateFailures
    if (failed > 0)
      ctx.log(s"${inst.streamId}: $lsnFailures changelog LSN failures, $stateFailures state rows wrong " +
        s"(of ${expected.length} events, ${model.size} live keys)")
    (expected.length.toLong, failed)
  }

  private def traceLayers(ctx: Ctx, inst: Instance, bs: Seq[Batch], sp: Spans, bt: BatchTrace,
      activity: SparkActivity, fromMs: Long, toMs: Long, codegenMs: Long): Map[String, Double] = {
    val n = math.max(1, bs.size).toDouble
    def perBatch(span: String): Double = sp.total(span) / n
    val durKeys = Seq("latestOffset", "walCommit", "queryPlanning", "getBatch", "commitOffsets")
    val wall = bs.map(_.dur("triggerExecution")).sum.toDouble
    val explained = bs.map(b => durKeys.map(b.dur).sum).sum + sp.total("batch")
    val decodeS = sp.total("cdc.decode") / 1e3
    Map(
      "sources.plan_ms" -> bs.map(_.dur("latestOffset")).sum / n,
      "sources.read_ms" -> perBatch("sources.read"),
      "sources.read_bytes_per_admitted_byte" ->
        (if (bt.admittedBytes > 0) bt.rcharRead.toDouble / bt.admittedBytes else 0.0),
      "cdc.decode_ms" -> perBatch("cdc.decode"),
      "cdc.decode_events_per_s" -> (if (decodeS > 0) bt.events / decodeS else 0.0),
      "cdc.merge_build_ms" -> perBatch("cdc.merge_build"),
      "cdc.merge_exec_ms" -> perBatch("cdc.merge_exec"),
      "streaming.changelog_write_ms" -> perBatch("streaming.changelog_write"),
      "streaming.state_write_ms" -> perBatch("streaming.state_write"),
      "streaming.state_bytes_per_changed_key" ->
        (if (bt.changedKeys > 0) bt.stateBytes.toDouble / bt.changedKeys else 0.0),
      "streaming.batch_ms" -> bs.map(_.dur("addBatch")).sum / n,
      "streaming.trigger_overhead_ms" -> bs.map(b => b.dur("triggerExecution") - b.dur("addBatch")).sum / n,
      "trace.wall_ms" -> wall,
      "trace.residual_ms" -> (wall - explained),
      "trace.residual_share" -> (if (wall > 0) (wall - explained) / wall else 0.0)
    ) ++ Layers.engine(ctx.spark, activity, fromMs, toMs, codegenMs)
  }

  // ----------------------------------------------------------- cdc_stream

  /** Phase 1, backlog drain (closed): a seeded backlog over a wide key
    * space, insert-heavy with deletes, drained through the admission
    * cap in large batches. Its first `DrainWarmBatches` batches are
    * warm-up (the first pays JIT and codegen); the ones after are
    * measured: `DrainMeasuredBatches` full batches, then a last one
    * holding the final Commit frame. */
  val Backlog: Mix = Mix(keys = 20000, pDelete = 0.25, pToast = 0.0)
  val DrainCap = 6000L
  val DrainWarmBatches = 3
  val DrainMeasuredBatches = 4
  /** One capped batch holds this many transactions (B, changes, C). */
  private val TxnsPerBatch = (DrainCap / (ChangesPerTxn + 2)).toInt

  /** Phase 2, steady (open loop), on the same stream once it has
    * caught up: one generator thread writes one frame file every
    * `PeriodMs` (`TxnsPerFile` transactions, 500 events/s), each frame
    * stamped with its due time, over a hot subset of the keys with
    * TOASTed updates. Files are never trimmed. Lag is measured on the
    * events due after `SteadyWarmupMs`, for `--seconds`. */
  val Steady: Mix = Mix(keys = 2000, pDelete = 0.05, pToast = 0.5)
  val PeriodMs = 200L
  val TxnsPerFile = 25
  val SteadyWarmupMs = 3000L
  /** A generator later than this behind its schedule invalidates the run. */
  val MaxLateMs: Long = PeriodMs

  private def withBacklog(ctx: Ctx, tag: String): Instance = {
    val inst = new Instance(ctx, tag, new CdcFeed(ctx.seed))
    val files = 2 * (DrainWarmBatches + DrainMeasuredBatches)
    (0 until files).foreach { i =>
      val head = if (i == 0) Seq(inst.feed.relationFrame(CommitBaseMicros)) else Seq.empty
      inst.write(head ++ inst.feed.transactions(TxnsPerBatch / 2, Backlog, CommitBaseMicros, 0L))
    }
    inst
  }

  /** One run of both phases over `inst`'s backlog. */
  final case class StreamRun(
      inst: Instance, startMs: Long, drain: Seq[Batch], steady: Seq[Batch],
      backlogFrames: Int, windowMs: (Long, Long), lateMaxMs: Double, backlogEndFrames: Double,
      steadyWrittenAt: Array[Long], framesAfterFile: Array[Int]) {
    def measuredDrain: Seq[Batch] = drain.drop(DrainWarmBatches)
    def all: Seq[Batch] = drain ++ steady

    /** Frames written by `ms`: the backlog, plus the steady files written by then. */
    def writtenBy(ms: Long): Int = {
      val files = steadyWrittenAt.count(_ <= ms)
      if (files == 0) backlogFrames else framesAfterFile(files - 1)
    }
  }

  private def runStream(ctx: Ctx, inst: Instance, traced: Option[(Spans, BatchTrace)]): StreamRun = {
    val feed = inst.feed
    val backlogFrames = feed.frameLsn.length
    val backlogEnd = feed.frameLsn(backlogFrames - 1)
    val nFiles = ((SteadyWarmupMs + ctx.seconds * 1000L) / PeriodMs).toInt
    val writtenAt = new Array[Long](nFiles)
    val framesAfterFile = new Array[Int](nFiles)
    val late = new Array[Long](nFiles)
    val t0 = System.currentTimeMillis()
    val q = start(ctx, inst, DrainCap, traced)
    var genStart = 0L
    try {
      q.processAllAvailable()
      genStart = System.currentTimeMillis() + PeriodMs
      val gen = new Thread(() => {
        var i = 0
        while (i < nFiles) {
          val due = genStart + i * PeriodMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          inst.write(feed.transactions(TxnsPerFile, Steady, due * 1000, due))
          writtenAt(i) = System.currentTimeMillis()
          framesAfterFile(i) = feed.frameLsn.length
          late(i) = writtenAt(i) - due
          i += 1
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
    } finally q.stop()
    val genEnd = genStart + nFiles * PeriodMs
    val (drain, steady) = batches(q).sortBy(_.end).partition(_.end <= backlogEnd)
    // frames written but not committed when generation ended
    val committedEnd = (drain ++ steady).filter(_.commitMs <= genEnd).map(_.end).foldLeft(Long.MinValue)(math.max)
    val run = StreamRun(inst, t0, drain, steady, backlogFrames, (genStart + SteadyWarmupMs, genEnd),
      late.max.toDouble, (feed.frameLsn.length - feed.framesUpTo(committedEnd)).toDouble,
      writtenAt, framesAfterFile)
    if (run.lateMaxMs > MaxLateMs) {
      ctx.log(f"INVALID: the generator ran ${run.lateMaxMs}%.0f ms behind its schedule (limit $MaxLateMs ms)")
      sys.exit(3)
    }
    require(drain.size > DrainWarmBatches, s"the drain took ${drain.size} batches, fewer than its warm-up")
    run
  }

  /** The end-to-end figures: drain throughput (events per second of
    * batch execution over the measured drain batches) and steady lag
    * (commit time minus due time, per event due in the window). */
  private def figures(r: StreamRun): (Map[String, Double], Int) = {
    val feed = r.inst.feed
    val measured = r.measuredDrain
    val drained = measured.map(b => feed.eventsBetween(b.start.getOrElse(Long.MinValue), b.end)).sum
    val (lags, missing) = Lag.lags(r.steady.map(_.commit), feed.eventLsn.toArray, feed.eventDueMs.toArray,
      r.windowMs._1, r.windowMs._2)
    (Map(
      "throughput_per_s" -> drained * 1000.0 / measured.map(_.dur("triggerExecution")).sum,
      "latency_p50_ms" -> Stats.quantile(lags, 0.5),
      "latency_p99_ms" -> Stats.quantile(lags, 0.99)), missing)
  }

  private def batchLog(bs: Seq[Batch]): String =
    bs.map(b => s"${b.dur("triggerExecution")}/${b.dur("addBatch")}").mkString(" ")

  val stream: Ctx => Outcome = ctx => {
    // set-up: the backlog, generated three times (median reported), then
    // the drain's warm-up batches
    val genTimes = (0 until 3).map { i =>
      val t = System.nanoTime()
      withBacklog(ctx, s"gen$i")
      (System.nanoTime() - t) / 1e9
    }
    val r = runStream(ctx, withBacklog(ctx, "main"), None)
    val warmS = (r.measuredDrain.head.triggerStartMs - r.startMs) / 1e3
    val setupS = ctx.sessionReadyS + Stats.median(genTimes) + warmS
    val (untraced, missing) = figures(r)
    ctx.log(f"set-up: session ${ctx.sessionReadyS}%.2f s, backlog ${Stats.median(genTimes)}%.2f s, warm-up $warmS%.2f s")
    ctx.log(s"drain batch ms ${batchLog(r.drain)}; steady batch ms ${batchLog(r.steady)}")
    ctx.log(f"steady: generator late by at most ${r.lateMaxMs}%.0f ms, backlog at end of generation ${r.backlogEndFrames}%.0f frames")
    var checks = Seq(check(ctx, r.inst))
    var unattributed = missing.toLong

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val activity = new SparkActivity
      ctx.spark.sparkContext.addSparkListener(activity)
      val sp = new Spans
      val bt = new BatchTrace
      val inst = withBacklog(ctx, "traced")
      val cg0 = Layers.codegenMs
      val from = System.currentTimeMillis()
      val t = runStream(ctx, inst, Some((sp, bt)))
      val to = System.currentTimeMillis()
      checks :+= check(ctx, inst)
      val (traced, tracedMissing) = figures(t)
      unattributed += tracedMissing
      sp.writeJson(ctx.out.resolve(s"spans_cdc_stream_seed${ctx.seed}.json"))
      // backlog at each trigger: frames written by its start minus frames committed before it
      val backlogFrames = t.all.map(b =>
        (t.writtenBy(b.triggerStartMs) - inst.feed.framesUpTo(b.start.getOrElse(Long.MinValue))).toDouble)
      traceLayers(ctx, inst, t.all, sp, bt, activity, from, to, Layers.codegenMs - cg0) ++
        Layers.overhead(traced, untraced) ++
        Map("sources.backlog_frames" -> Stats.mean(backlogFrames),
          "gen.late_ms_max" -> t.lateMaxMs, "gen.backlog_end_frames" -> t.backlogEndFrames)
    }
    val e2e = untraced ++ Map("setup_s" -> setupS)
    Outcome(checks.map(_._1).sum, checks.map(_._2).sum + unattributed, Layers.e2e(e2e), Layers.perLayer(layers),
      Map("cdc_events_per_s" -> untraced("throughput_per_s"),
        "cdc_lag_p50_ms" -> untraced("latency_p50_ms"), "cdc_lag_p99_ms" -> untraced("latency_p99_ms"),
        "gen_late_ms_max" -> r.lateMaxMs, "gen_backlog_end_frames" -> r.backlogEndFrames,
        "drain_batches" -> r.drain.size.toDouble, "steady_batches" -> r.steady.size.toDouble))
  }
}
