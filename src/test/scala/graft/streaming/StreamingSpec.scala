package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc._
import graft.control.{Health, LagListener}

/** End-to-end streaming slice: memory-sourced frames → decode →
  * filter → changelog sink + state MERGE, surviving a restart from
  * checkpoint; watermarked dedup; stream–static enrichment; health
  * endpoint; progress listener. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def runBatchesThrough(
      stream: MemoryStream[CdcFrame],
      cfg: CdcPipeline.SinkConfig,
      batches: Seq[Seq[CdcFrame]]): Unit = {
    val events = CdcPipeline.decode(stream.toDS().coalesce(1), cfg.streamId)
    val q = CdcPipeline.run(events, UsersFixture.baseState(spark), cfg)
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
  }

  private def goldenFinalState: Seq[Seq[Any]] = Seq(
    Seq("1", "Ashish Kumar", "ashish@example.com", "active", UsersFixture.T0, UsersFixture.T0),
    Seq("2", "John Doe", "john@example.com", "active", UsersFixture.T0, UsersFixture.T0),
    Seq("4", "Bin User", "bin@example.com", "cafe", UsersFixture.T1, UsersFixture.T3))

  private def assertGolden(cfg: CdcPipeline.SinkConfig): Unit = {
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    val state = store.latest(spark).get
      .orderBy(col("id").cast("int"))
      .collect().map(_.toSeq).toSeq
    assert(state == goldenFinalState)
    // changelog holds exactly the decoded events — no replay duplicates
    val sunk = spark.read.parquet(cfg.eventsOutDir)
    assert(sunk.count() == 5)
    assert(sunk.select("table").distinct().collect().map(_.getString(0)).toSeq == Seq("users"))
  }

  test("golden scenario end-to-end (memory stream, multi-batch)") {
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_e2e",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"),
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))
    CdcDecode.resetStream(cfg.streamId)
    val frames = UsersFixture.frames
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    runBatchesThrough(stream, cfg,
      Seq(frames.take(4), frames.slice(4, 7), frames.drop(7)))
    assertGolden(cfg)
  }

  test("v2 streamed txns through the full pipeline: micro-batch boundaries mid-txn, aborts never reach state") {
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_v2",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"),
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))
    CdcDecode.resetStream(cfg.streamId)
    val frames = UsersFixture.streamedFrames
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    // boundaries deliberately split BOTH streamed txns across batches:
    // batch 1 = relation + 777's first segment, batch 2 = 888's
    // segment + 777's second segment (abort/commit still pending),
    // batch 3 = subtxn abort + 777 commit + 888 full abort
    runBatchesThrough(stream, cfg,
      Seq(frames.take(4), frames.slice(4, 11), frames.drop(11)))
    val state = new CdcPipeline.StateStore(cfg.stateDir).latest(spark).get
      .orderBy(col("id").cast("int"))
      .collect().map(_.toSeq).toSeq
    assert(state == Seq(
      Seq("1", "Ashish Kumar", "ashish@example.com", "active", UsersFixture.T0, UsersFixture.T0),
      Seq("2", "John Doe", "john@example.com", "active", UsersFixture.T0, UsersFixture.T0),
      Seq("5", "Stream User v2", "s5@example.com", "inactive", UsersFixture.T1, UsersFixture.T2)),
      "only xid 777's committed changes may land: no id 6 (full abort), no id 7 (subtxn abort)")
    // changelog holds exactly the two committed events, nothing buffered leaked
    val sunk = spark.read.parquet(cfg.eventsOutDir)
    assert(sunk.count() == 2)
    assert(sunk.select("lsn").orderBy("lsn").collect().map(_.getLong(0)).toSeq == Seq(2002L, 2008L))
  }

  /** Write `fs` as ONE parquet frame file named `name` directly under
    * `feedDir` (the streaming file source lists plain files). */
  private def dropFrameFile(feedDir: String, name: String, fs: Seq[CdcFrame]): Unit = {
    val staging = tmp("staging")
    implicit val enc = Encoders.product[CdcFrame]
    spark.createDataset(fs).coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    Files.move(part.toPath, java.nio.file.Paths.get(feedDir, s"$name.parquet"))
  }

  test("file feed: kill + restart from the SAME checkpoint loses nothing, duplicates nothing") {
    val feedDir = tmp("feed")
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_filefeed",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"), // ONE checkpoint for both runs
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))
    CdcDecode.resetStream(cfg.streamId)
    val frames = UsersFixture.frames

    // run 1: relation + first transactions, then "crash" (stop)
    dropFrameFile(feedDir, "0001", frames.take(7))
    val q1 = CdcPipeline.run(
      CdcPipeline.decodeFileFeed(spark, feedDir, cfg.streamId),
      UsersFixture.baseState(spark), cfg)
    try q1.processAllAvailable() finally q1.stop()

    // restart: SAME checkpoint — offsets replay from the write-ahead
    // log, already-committed files are not re-emitted, new file is
    dropFrameFile(feedDir, "0002", frames.drop(7))
    val q2 = CdcPipeline.run(
      CdcPipeline.decodeFileFeed(spark, feedDir, cfg.streamId),
      UsersFixture.baseState(spark), cfg)
    try q2.processAllAvailable() finally q2.stop()

    assertGolden(cfg)
  }

  test("processBatch replayed with the same batchId is idempotent (crash between sink and commit)") {
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_idem",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"),
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    implicit val enc = org.apache.spark.sql.Encoders.product[CdcEvent]
    val batch = CdcDecode.toWireDf(
      spark.createDataset(CdcDecode.decodeSeq(UsersFixture.frames)))
    val base = UsersFixture.baseState(spark)
    CdcPipeline.processBatch(batch, 0L, base, cfg, store)
    // crash happened AFTER the state write but BEFORE the checkpoint
    // commit → Structured Streaming re-runs the same batch id
    CdcPipeline.processBatch(batch, 0L, base, cfg, store)
    assertGolden(cfg)
    assert(store.latestVersion.contains(0L))
  }

  private def sinkCfg(streamId: String): CdcPipeline.SinkConfig =
    CdcPipeline.SinkConfig(
      streamId = streamId,
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"),
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))

  /** Every fixture frame decoded into one wire batch (5 users events). */
  private def goldenBatch = {
    implicit val enc = org.apache.spark.sql.Encoders.product[CdcEvent]
    CdcDecode.toWireDf(spark.createDataset(CdcDecode.decodeSeq(UsersFixture.frames)))
  }

  /** Replace the directory at `path` with a regular file, so a sink
    * writing under it fails; returns an undo. */
  private def breakDir(path: String): () => Unit = {
    val p = java.nio.file.Paths.get(path)
    Files.delete(p)
    Files.write(p, Array[Byte](1))
    () => { Files.delete(p); Files.createDirectory(p); () }
  }

  /** One sink fails while the other runs beside it; the failed batch
    * leaves no partial state version visible, and replaying it with the
    * same batch id once the fault is gone gives the golden result. */
  private def crashThenReplay(streamId: String, broken: CdcPipeline.SinkConfig => String): Unit = {
    val cfg = sinkCfg(streamId)
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    val batch = goldenBatch
    val base = UsersFixture.baseState(spark)
    val undo = breakDir(broken(cfg))
    intercept[Exception](CdcPipeline.processBatch(batch, 0L, base, cfg, store))
    undo()
    // the sibling either finished (LATEST moved onto a whole version)
    // or was cancelled before LATEST moved
    store.latestVersion.foreach { v =>
      assert(v == 0L)
      assert(store.latest(spark).get.count() == goldenFinalState.size)
    }
    CdcPipeline.processBatch(batch, 0L, base, cfg, store)
    assertGolden(cfg)
    assert(spark.read.parquet(cfg.eventsOutDir).select("lsn").distinct().count() == 5)
    assert(store.latestVersion.contains(0L))
  }

  test("changelog sink (K1) fails while the state MERGE (K2) runs: the replay is exactly-once") {
    crashThenReplay("stream_k1_fail", _.eventsOutDir)
  }

  test("state MERGE (K2) fails while the changelog sink (K1) runs: the replay is exactly-once") {
    crashThenReplay("stream_k2_fail", _.stateDir)
  }

  test("the MERGE's state read launches no Spark job and reads what a plain parquet read does") {
    val cfg = sinkCfg("stream_state_read")
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    CdcPipeline.processBatch(goldenBatch, 0L, UsersFixture.baseState(spark), cfg, store)
    // job starts are delivered in order: once a marker job's start
    // arrives, every job started before it has been counted
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.job.description") == "marker")
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val state = try {
      val s = store.latest(spark).get
      sc.setJobDescription("marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      s
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 0)
    val plain = spark.read.parquet(s"${cfg.stateDir}/v=0")
    assert(state.schema == plain.schema)
    assert(state.collect().map(_.toSeq).sortBy(_.head.toString).toSeq ==
      plain.collect().map(_.toSeq).sortBy(_.head.toString).toSeq)
  }

  test("file feed decodes R-frame before changes even when file order disagrees with lsn order") {
    val feedDir = tmp("feed")
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_order",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"),
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))
    CdcDecode.resetStream(cfg.streamId)
    val frames = UsersFixture.frames
    // change frames land in a file that lists BEFORE the relation
    // frame's file (both by name and by mtime): only the lsn sort
    // inside decode restores the stream order
    dropFrameFile(feedDir, "0001_changes", frames.drop(1))
    dropFrameFile(feedDir, "0002_relation", frames.take(1))
    val q = CdcPipeline.run(
      CdcPipeline.decodeFileFeed(spark, feedDir, cfg.streamId),
      UsersFixture.baseState(spark), cfg)
    try q.processAllAvailable() finally q.stop()
    assertGolden(cfg)
  }

  test("DSv2 graft-cdc source: LSN offsets, admission cap, restart, and feedback commit") {
    import graft.sources.CdcFrameFiles
    val feedDir = tmp("cdcf")
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_dsv2",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"), // ONE checkpoint for both runs
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("users")))
    CdcDecode.resetStream(cfg.streamId)
    val frames = UsersFixture.frames

    // batch-read surface doubles as a file-format check
    CdcFrameFiles.write(feedDir, "0001", frames.take(7))
    val batchRead = spark.read.format("graft-cdc").option("path", feedDir).load()
    assert(batchRead.count() == 7)

    // run 1: admission cap 3 forces multiple micro-batches
    val q1 = CdcPipeline.run(
      CdcPipeline.decode(
        CdcPipeline.framesFromCdcSource(spark, feedDir, maxFramesPerTrigger = 3),
        cfg.streamId),
      UsersFixture.baseState(spark), cfg)
    try q1.processAllAvailable() finally q1.stop()
    // commit() published committed-batch lsns (send_feedback
    // analogue). The engine commits batch N to the source when batch
    // N+1 starts, so feedback trails the final batch by design — the
    // CHECKPOINT prevents reprocessing; feedback only trims WAL.
    val f1 = CdcFrameFiles.readFeedback(feedDir)
    assert(f1.exists(_ >= frames(3).lsn), s"feedback after run1: $f1")

    // "crash", then restart from the SAME checkpoint with new frames
    CdcFrameFiles.write(feedDir, "0002", frames.drop(7))
    val q2 = CdcPipeline.run(
      CdcPipeline.decode(
        CdcPipeline.framesFromCdcSource(spark, feedDir, maxFramesPerTrigger = 3),
        cfg.streamId),
      UsersFixture.baseState(spark), cfg)
    try q2.processAllAvailable() finally q2.stop()

    assertGolden(cfg)
    // feedback advanced monotonically across the restart
    val f2 = CdcFrameFiles.readFeedback(feedDir)
    assert(f2.exists(l => l >= frames(7).lsn && f1.forall(_ <= l)), s"feedback after run2: $f2")
  }

  test("txnAtomic: micro-batches end only on Commit LSNs; cap snaps down, grows for oversize txns, holds open txns") {
    import graft.sources.{CdcFrameFiles, CdcMicroBatchStream, LsnOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feedDir = tmp("cdcf_txn")
    val frames = UsersFixture.frames
    // frames 0-9: R | B I C | B U C | B D C  (lsns 1000-1009)
    CdcFrameFiles.write(feedDir, "0001", frames.take(10))
    val s = new CdcMicroBatchStream(feedDir, maxFramesPerTrigger = 3, txnAtomic = true)
    // cap 3 covers R,B,I — no Commit inside: the batch GROWS to the
    // open transaction's Commit (atomicity outranks admission)
    assert(s.latestOffset(LsnOffset(Long.MinValue), ReadLimit.maxRows(3)) == LsnOffset(1003L))
    // cap 5 from 1003 covers B,U,C,B,D — end snaps DOWN to the last
    // Commit (1006); the next txn's open tail waits
    assert(s.latestOffset(LsnOffset(1003L), ReadLimit.maxRows(5)) == LsnOffset(1006L))
    assert(s.latestOffset(LsnOffset(1006L), ReadLimit.maxRows(5)) == LsnOffset(1009L))
    // an open transaction with no landed Commit is held back entirely
    CdcFrameFiles.write(feedDir, "0002", Seq(
      CdcFrame(2000L, 0L, PgOutput.Encoder.begin()),
      CdcFrame(2001L, 0L, PgOutput.Encoder.insert(UsersFixture.RelId,
        Seq(PgOutput.WText("9"), PgOutput.WText("n"), PgOutput.WText("e"),
          PgOutput.WText("s"), PgOutput.WText(UsersFixture.T1), PgOutput.WText(UsersFixture.T1))))))
    assert(s.latestOffset(LsnOffset(1009L), ReadLimit.allAvailable()) == LsnOffset(1009L))
    // ... until its Commit frame lands
    CdcFrameFiles.write(feedDir, "0003", Seq(CdcFrame(2002L, 0L, PgOutput.Encoder.commit())))
    assert(s.latestOffset(LsnOffset(1009L), ReadLimit.allAvailable()) == LsnOffset(2002L))

    // end-to-end: cap 2 would split every 3-frame transaction, but
    // with txnAtomic each micro-batch carries whole transactions only
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    val q = CdcPipeline
      .framesFromCdcSource(spark, feedDir, maxFramesPerTrigger = 2, txnAtomic = true)
      .writeStream
      .option("checkpointLocation", tmp("chk_txn"))
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[CdcFrame], _: Long) =>
        val tags = ds.collect().sortBy(_.lsn).map(f => if (f.payload.nonEmpty) f.payload(0) else 0: Byte)
        if (tags.nonEmpty) batches.add(tags.toSeq): Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val all = batches.asScala.toSeq
    assert(all.flatten.count(_ == 'C'.toByte) == 4) // nothing lost
    all.foreach { tags =>
      // balanced B/C and Commit-terminated: no split transactions
      assert(tags.count(_ == 'B'.toByte) == tags.count(_ == 'C'.toByte), s"unbalanced: $tags")
      assert(tags.last == 'C'.toByte, s"batch not Commit-terminated: $tags")
    }
  }

  test("commit-time event time: watermark drops late txns by SOURCE commit time, not ingest time") {
    import graft.cdc.PgOutput.{Encoder => E, WText}
    val base = 1767225600000000L // 2026-01-01T00:00:00Z in Unix µs
    val ingest = base + 3600L * 1000000L // ONE fresh ingest stamp for everything
    def txn(beginLsn: Long, commitMinute: Int, id: String): Seq[CdcFrame] = Seq(
      CdcFrame(beginLsn, ingest,
        E.begin(base + commitMinute * 60000000L, finalLsn = beginLsn + 2, xid = 7)),
      CdcFrame(beginLsn + 1, ingest, E.insert(UsersFixture.RelId,
        Seq(id, "N", "e@x", "active", UsersFixture.T1, UsersFixture.T1).map(WText(_)))),
      CdcFrame(beginLsn + 2, ingest, E.commit()))

    // unit level: the decoder surfaces the Begin body's commit time
    CdcDecode.resetStream("stream_ct0")
    val evs = CdcDecode.decodeSeq(
      CdcFrame(1L, ingest, E.relation(UsersFixture.relation)) +: txn(10L, commitMinute = 5, "1"))
    assert(evs.length == 1 && evs.head.commitMicros.contains(base + 5L * 60000000L))
    // legacy empty-body Begin still decodes, with no commit time
    assert(UsersFixture.frames.nonEmpty &&
      CdcDecode.decodeSeq(UsersFixture.frames).forall(_.commitMicros.isEmpty))

    // streaming: all ingest stamps are IDENTICAL and fresh, so any
    // late-drop below can only come from the commit-time column
    CdcDecode.resetStream("stream_ct")
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    val counts = CdcDecode
      .withCommitEventTime(CdcPipeline.decode(stream.toDS().coalesce(1), "stream_ct"))
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = counts.writeStream.format("memory").queryName("ct_out").outputMode("update").start()
    try {
      // batch 1 advances the watermark to 00:30 - 10min = 00:20
      stream.addData(CdcFrame(1L, ingest, E.relation(UsersFixture.relation)))
      stream.addData(txn(10L, commitMinute = 0, "1") ++ txn(20L, commitMinute = 30, "2"))
      q.processAllAvailable()
      // batch 2: commit 00:05 is LATE (ingest is fresh!) → dropped;
      // commit 00:40 is on time → counted
      stream.addData(txn(30L, commitMinute = 5, "3") ++ txn(40L, commitMinute = 40, "4"))
      q.processAllAvailable()
    } finally q.stop()
    val byWindow = spark.table("ct_out").collect()
      .groupBy(_.getTimestamp(0).toInstant.toString)
      .view.mapValues(_.map(_.getLong(1)).max).toMap
    assert(byWindow("2026-01-01T00:00:00Z") == 1L, s"late txn leaked in: $byWindow") // not 2
    assert(byWindow("2026-01-01T00:30:00Z") == 1L && byWindow("2026-01-01T00:40:00Z") == 1L, s"$byWindow")
  }

  test("relation registry survives a JVM-cold restart via the registry snapshot dir") {
    val regDir = tmp("registry")
    val frames = UsersFixture.frames
    // batch 1 on a fresh stream sees the R-frame (snapshotted)
    CdcDecode.resetStream("stream_reg")
    val b1 = CdcDecode.decode(
      CdcDecode.framesDataset(spark, frames.take(1)), "stream_reg",
      registryDir = Some(regDir)).collect()
    assert(b1.isEmpty) // R-frame yields no events
    // "JVM restart": the in-memory registry is gone
    CdcDecode.resetStream("stream_reg")
    // batch 2 carries ONLY change frames — without the snapshot these
    // would be silent unknown-relation drops
    val b2 = CdcDecode.decode(
      CdcDecode.framesDataset(spark, frames.slice(2, 3)), "stream_reg",
      registryDir = Some(regDir)).collect()
    assert(b2.length == 1 && b2.head.operation == "INSERT")
  }

  test("R-frame snapshotted INSIDE a v2 stream segment replays correctly (xid prefix stripped)") {
    import PgOutput.{Encoder => E}
    val regDir = tmp("registry")
    val xid = 777
    // the R frame arrives mid-segment, so its wire form carries the
    // v2 Int32 xid prefix — the snapshot must strip it or a fresh
    // decoder replays the xid as the relation OID
    val seg = Seq(
      CdcFrame(1, 0, E.streamStart(xid)),
      CdcFrame(2, 0, E.relation(UsersFixture.relation, streamXid = Some(xid))),
      CdcFrame(3, 0, E.streamStop()))
    CdcDecode.resetStream("stream_reg_v2")
    assert(CdcDecode.decode(
      CdcDecode.framesDataset(spark, seg), "stream_reg_v2",
      registryDir = Some(regDir)).collect().isEmpty)
    // "JVM restart", then a bare change frame for the relation
    CdcDecode.resetStream("stream_reg_v2")
    val b2 = CdcDecode.decode(
      CdcDecode.framesDataset(spark, Seq(CdcFrame(4, 0,
        E.insert(UsersFixture.RelId, UsersFixture.Cols.map(c => PgOutput.WText(s"v-$c")))))),
      "stream_reg_v2", registryDir = Some(regDir)).collect()
    assert(b2.length == 1 && b2.head.operation == "INSERT" && b2.head.table == "users",
      "replayed snapshot must register the REAL relation, not the xid-as-OID garbage")
  }

  test("publication filter drops unpublished tables before the sinks") {
    val cfg = CdcPipeline.SinkConfig(
      streamId = "stream_filter",
      eventsOutDir = tmp("events"), stateDir = tmp("state"),
      checkpointDir = tmp("chk"),
      table = "users", keyCol = "id", valueCols = UsersFixture.Cols.tail,
      publishedTables = Some(Set("other_table")))
    CdcDecode.resetStream(cfg.streamId)
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    runBatchesThrough(stream, cfg, Seq(UsersFixture.frames))
    // nothing published → no event files, state = base
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    assert(store.latest(spark).get.count() == 2)
  }

  test("dedupWithinWatermark drops repeats and keeps state bounded") {
    import spark.implicits._
    val stream = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val df = stream.toDS().toDF("event_id", "ts")
    val out = StreamingOps.dedupWithinWatermark(df, "ts", "10 minutes", Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tmp("chk_dedup")).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    try {
      stream.addData(Seq((1L, t(0)), (2L, t(1)), (1L, t(2)))) // dup 1 within watermark
      q.processAllAvailable()
      stream.addData(Seq((2L, t(3)), (3L, t(4)))) // dup 2 across batches
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("text-pipeline operators compose unchanged into a stream (quality gate + chunking)") {
    // The curation operators are pure projections/flatMaps, so the SAME
    // library calls that run in batch run per micro-batch with no
    // state, watermark, or mode restrictions — streaming ingest +
    // quality-filter + chunk is just function composition.
    import spark.implicits._
    val stream = MemoryStream[(Long, String)](spark)
    val df = stream.toDS().toDF("doc_id", "text")
    val gated = graft.operators.TextAnalysis.qualityFilter(df, "doc_id", "text",
      minTokens = 3L, maxAvgTokenLen = 10.0d, maxDupFrac = 0.9d)
    val chunks = graft.operators.TextAnalysis.chunkWindows(df, "doc_id", "text",
      size = 4, stride = 4)
    val q1 = gated.writeStream.format("memory").queryName("gate_out")
      .option("checkpointLocation", tmp("chk_gate")).start()
    val q2 = chunks.writeStream.format("memory").queryName("chunk_out")
      .option("checkpointLocation", tmp("chk_chunk")).start()
    try {
      stream.addData(Seq(
        (1L, "the quick brown fox jumps over the lazy dog"), // keeps; 3 chunks
        (2L, "hi")))                                         // too_short; 1 chunk
      q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    val gate = spark.table("gate_out").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getString(3))).toMap
    assert(gate(1L) == ((true, null)) && gate(2L) == ((false, "too_short")))
    val nChunks = spark.table("chunk_out").groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nChunks == Map(1L -> 3L, 2L -> 1L))
  }

  test("dropSimhashNearDups: stream docs matching the static corpus are dropped") {
    import spark.implicits._
    val ref = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six")).toDF("doc_id", "text")
    val refBlocks = graft.operators.Dedup.simhashBlockTable(ref, "doc_id", "text")
    val stream = MemoryStream[(Long, String)](spark)
    val out = graft.streaming.StreamingOps.dropSimhashNearDups(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text", refBlocks)
    val q = out.writeStream.format("memory").queryName("incdedup_out")
      .option("checkpointLocation", tmp("chk_incdedup")).start()
    try {
      stream.addData(Seq(
        (1L, "alpha beta gamma delta epsilon zeta"), // exact dup of ref 100 → dropped
        (2L, "totally unrelated words with nothing shared here at all")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("incdedup_out").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L), s"kept=$kept")
    // batch sanity: the survivor's schema is unchanged (helper cols dropped)
    assert(spark.table("incdedup_out").columns.toSeq == Seq("doc_id", "text"))
    // plan shape: four per-band broadcast EQUI probes, never a
    // nested-loop walk of the reference table per doc
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val plan = graft.streaming.StreamingOps
      .dropSimhashNearDups(batch, "doc_id", "text", refBlocks)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 4, plan)
  }

  test("windowed stats emit closed windows under watermark") {
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val df = stream.toDS().toDF("ts", "event_type", "value")
    val out = StreamingOps.windowedEventStats(df, "ts", "0 seconds", "5 minutes")
    val q = out.writeStream.format("memory").queryName("win_out").outputMode("append")
      .option("checkpointLocation", tmp("chk_win")).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    try {
      stream.addData(Seq((t(0), "click", 1.0), (t(1), "click", 2.0), (t(6), "view", 5.0)))
      q.processAllAvailable()
      stream.addData(Seq((t(12), "click", 9.0))) // advances watermark past both windows
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_out")
      .select(col("event_type"), col("n_events"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.contains(("click", 2L, 3.0)) && rows.contains(("view", 1L, 5.0)))
  }

  test("session windows merge within gap, split across it, close under watermark") {
    import spark.implicits._
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val df = stream.toDS().toDF("ts", "user", "value")
    val out = StreamingOps.sessionStats(df, "ts", "0 seconds", "5 minutes", "user")
    val q = out.writeStream.format("memory").queryName("sess_out").outputMode("append")
      .option("checkpointLocation", tmp("chk_sess")).start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    try {
      // u1: events at 10:00, 10:03 (merged, gap < 5m), then 10:20 (new session)
      stream.addData(Seq((t(0), "u1", 1.0), (t(3), "u1", 2.0), (t(20), "u1", 7.0)))
      q.processAllAvailable()
      stream.addData(Seq((t(40), "u1", 0.0))) // watermark past both sessions
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_out")
      .select(col("user"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
      .toSet
    // first session [10:00, 10:08): last event 10:03 + 5m gap
    assert(rows.contains(("u1", t(0), java.sql.Timestamp.valueOf("2026-01-01 10:08:00"), 2L, 3.0)))
    assert(rows.contains(("u1", t(20), java.sql.Timestamp.valueOf("2026-01-01 10:25:00"), 1L, 7.0)))
  }

  test("flatMapGroupsWithState running counts accumulate across batches") {
    import spark.implicits._
    val stream = MemoryStream[String](spark)
    val out = StreamingOps.runningCounts(stream.toDS().toDF("k"), "k")
    val q = out.toDF().writeStream.format("memory").queryName("rc_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("chk_rc")).start()
    try {
      stream.addData(Seq("a", "a", "b"))
      q.processAllAvailable()
      stream.addData(Seq("a", "b", "b", "c"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("rc_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch 1 emissions + batch 2 emissions with carried state
    assert(rows == Set(
      ("a", 2L, 2L), ("b", 1L, 1L),                 // batch 1
      ("a", 3L, 1L), ("b", 3L, 2L), ("c", 1L, 1L))) // batch 2
  }

  test("streaming uniform sample converges to the batch uniformPerKey over the union of batches") {
    import spark.implicits._
    val stream = MemoryStream[(String, String)](spark)
    val out = StreamingOps.uniformSampleStream(
      stream.toDS().toDF("src", "id"), "src", "id", k = 3, salt = "us1")
    val q = out.toDF().writeStream.format("memory").queryName("us_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("chk_us")).start()
    val b1 = (1 to 10).map(i => ("s1", s"d$i")) ++ (1 to 4).map(i => ("s2", s"e$i"))
    val b2 = (11 to 20).map(i => ("s1", s"d$i")) ++ Seq(("s1", "d3"), ("s1", "d3")) // repeats absorbed
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // LAST emission per key = the sample after the full feed
    val last = spark.table("us_out").collect()
      .map(r => (r.getString(0), r.getSeq[String](1)))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2.sorted.toSeq }
    // batch reference: uniformPerKey over the union, same salt/k
    val union = (b1 ++ b2).toDF("src", "id")
    val ref = graft.operators.Sampling.uniformPerKey(union.dropDuplicates(), "src", "id", 3, "us1")
      .select("src", "id")
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    assert(last == ref, "streaming hash-min-k must equal batch rank-by-hash selection")
    assert(last("s1").size == 3 && last("s2").size == 3)
  }

  test("streaming cell-balanced sample converges to the batch operator over the union") {
    import spark.implicits._
    // two separable clusters; cluster A has 6 members, B has 2
    val vecs = Seq(
      0L -> Seq(1.0f, 0.0f), 1L -> Seq(0.99f, 0.01f), 2L -> Seq(0.98f, 0.02f),
      3L -> Seq(0.97f, 0.03f), 4L -> Seq(0.96f, 0.04f), 5L -> Seq(0.95f, 0.05f),
      10L -> Seq(0.0f, 1.0f), 11L -> Seq(0.05f, 0.98f))
    val centroids = Seq(0L -> Seq(1.0f, 0.0f), 10L -> Seq(0.0f, 1.0f))
    // stateless column assignment must agree with the batch groupBy argmax
    val batchDf = vecs.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val centDf = centroids.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val byGroup = graft.operators.Similarity.assignCells(
      batchDf, "vec_id", "embedding", centDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byColumn = batchDf.select(col("vec_id"),
      graft.operators.Similarity.assignCellColumn(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byColumn == byGroup, "stateless assignment must equal the batch argmax")

    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val out = StreamingOps.cellBalancedSampleStream(
      stream.toDS().toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      "vec_id", "embedding", centroids, perCellK = 3, salt = "cb1")
    val q = out.toDF().writeStream.format("memory").queryName("cbs_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("chk_cbs")).start()
    val (b1, b2) = vecs.splitAt(4)
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("cbs_out").collect()
      .map(r => (r.getString(0), r.getSeq[String](1)))
      .groupBy(_._1).map { case (k, v) => k -> v.last._2.sorted.toSeq }
    val ref = graft.operators.Similarity.cellBalancedSample(
      batchDf, "vec_id", "embedding", centDf, "vec_id", "embedding",
      perCellK = 3, salt = "cb1")
      .collect().map(r => (r.getLong(1).toString, r.getLong(0).toString))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    assert(last == ref, "stream prefix must equal the batch cell-balanced sample")
    assert(last("0").size == 3 && last("10").size == 2)
  }

  test("transformWithState running counts == flatMapGroupsWithState on the same feed") {
    import spark.implicits._
    // named-state API needs the RocksDB provider (column families)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[String](spark)
      val out = StreamingOps.runningCountsTws(stream.toDS().toDF("k"), "k")
      val q = out.toDF().writeStream.format("memory").queryName("rc_tws_out")
        .outputMode("update")
        .option("checkpointLocation", tmp("chk_rc_tws")).start()
      try {
        stream.addData(Seq("a", "a", "b"))
        q.processAllAvailable()
        stream.addData(Seq("a", "b", "b", "c"))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("rc_tws_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // the EXACT emission set the flatMapGroupsWithState test pins —
      // the two state APIs must be observationally identical here
      assert(rows == Set(
        ("a", 2L, 2L), ("b", 1L, 1L),
        ("a", 3L, 1L), ("b", 3L, 2L), ("c", 1L, 1L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join matches within the window, not outside it") {
    import spark.implicits._
    val imps = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val out = StreamingOps.streamStreamIntervalJoin(
      imps.toDS().toDF("ad_id", "imp_ts"), "imp_ts", "30 minutes",
      clicks.toDS().toDF("c_ad_id", "click_ts"), "click_ts", "30 minutes",
      keyEq = col("ad_id") === col("c_ad_id"),
      within = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ssj_out")
      .option("checkpointLocation", tmp("chk_ssj")).start()
    try {
      imps.addData(Seq((1L, t(0)), (2L, t(0))))
      q.processAllAvailable()
      // ad1 clicked at +5m (match) and +20m (outside `within`);
      // ad3 clicked but never shown; ad2 never clicked
      clicks.addData(Seq((1L, t(5)), (1L, t(20)), (3L, t(5))))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_out")
      .select("ad_id", "imp_ts", "click_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(rows == Set((1L, t(0), t(5))))
  }

  test("stream-static enrichment joins dimension attributes") {
    import spark.implicits._
    val stream = MemoryStream[(Long, Long)](spark)
    val df = stream.toDS().toDF("event_id", "user_id")
    val dim = Seq((12L, "gold"), (13L, "basic")).toDF("user_id", "tier")
    val out = StreamingOps.enrich(df, dim, Seq("user_id"))
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .option("checkpointLocation", tmp("chk_enrich")).start()
    try { stream.addData(Seq((1L, 12L), (2L, 99L))); q.processAllAvailable() }
    finally q.stop()
    val rows = spark.table("enrich_out").select("event_id", "tier").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(rows == Seq((1L, "gold"), (2L, null)))
  }

  test("console sink (P3) runs a micro-batch without error") {
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    CdcDecode.resetStream("stream_console")
    val events = CdcPipeline.decode(stream.toDS().coalesce(1), "stream_console")
    val q = CdcPipeline.consoleSink(events, numRows = 5)
    try { stream.addData(UsersFixture.frames); q.processAllAvailable() }
    finally q.stop()
    assert(q.exception.isEmpty)
  }

  test("CdcConfig.fromEnv (C2) parses a full env map and applies defaults") {
    val cfg = graft.control.CdcConfig.fromEnv(Map(
      "CDC_STREAM_ID" -> "s1",
      "CDC_FRAMES_DIR" -> "/x/frames",
      "CDC_PUBLICATION_TABLES" -> "users, orders ,,",
      "PORT" -> "9191",
      "CDC_WORKER_COUNT" -> "8"))
    assert(cfg.streamId == "s1" && cfg.framesDir == "/x/frames")
    assert(cfg.publishedTables == Set("users", "orders"))
    assert(cfg.healthPort == 9191 && cfg.workerHint == 8)
    // defaults fill unset keys
    assert(cfg.stateDir == "/tmp/graft/state")
    val dflt = graft.control.CdcConfig.fromEnv(Map.empty)
    assert(dflt.publishedTables == Set("users") && dflt.healthPort == 8080)
  }

  test("awaitWithShutdownHook (C4) blocks until the query stops, then returns") {
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    CdcDecode.resetStream("stream_hook")
    val events = CdcPipeline.decode(stream.toDS().coalesce(1), "stream_hook")
    val q = CdcPipeline.consoleSink(events)
    val waiter = new Thread(() => CdcPipeline.awaitWithShutdownHook(q))
    waiter.start()
    stream.addData(UsersFixture.frames.take(3))
    q.processAllAvailable()
    assert(waiter.isAlive) // still blocked while the query is active
    q.stop()               // the hook path does the same stop() on JVM exit
    waiter.join(30000)
    assert(!waiter.isAlive)
  }

  test("console sink (P3) runs the wire envelope through a micro-batch; shutdown hook (C4) stops and unblocks") {
    // P3: the pretty-printer surface — a real console-format query
    // over decoded events must process a batch and stop cleanly
    CdcDecode.resetStream("stream_console")
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    val q = CdcPipeline.consoleSink(
      CdcPipeline.decode(stream.toDS().coalesce(1), "stream_console"), numRows = 5)
    try {
      stream.addData(UsersFixture.frames)
      q.processAllAvailable()
      assert(q.isActive && q.lastProgress != null)
    } finally q.stop()

    // C4: the hook's stop action ends an active query, is a no-op on
    // a stopped one, and awaitWithShutdownHook unblocks on stop
    CdcDecode.resetStream("stream_c4")
    val s2 = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    val q2 = CdcPipeline.consoleSink(
      CdcPipeline.decode(s2.toDS().coalesce(1), "stream_c4"), numRows = 5)
    val waiter = new Thread(() => CdcPipeline.awaitWithShutdownHook(q2))
    waiter.start()
    assert(q2.isActive)
    val hook = CdcPipeline.shutdownHook(q2)
    hook.run() // simulate JVM shutdown delivery
    q2.awaitTermination(30000)
    assert(!q2.isActive)
    waiter.join(30000)
    assert(!waiter.isAlive, "awaitWithShutdownHook did not unblock after stop")
    CdcPipeline.shutdownHook(q2).run() // idempotent on a stopped query
    assert(!q2.isActive)
  }

  test("health endpoint serves 200 OK; lag listener records progress") {
    val listener = new LagListener
    spark.streams.addListener(listener)
    val health = Health.start(0) // ephemeral port: no suite collisions
    try {
      val body = scala.io.Source.fromURL(s"http://localhost:${health.port}/healthz").mkString
      assert(body == "OK")
      import spark.implicits._
      val stream = MemoryStream[Long](spark)
      val q = stream.toDS().toDF("v").writeStream.format("memory").queryName("lag_out")
        .option("checkpointLocation", tmp("chk_lag")).start()
      try { stream.addData(Seq(1L, 2L, 3L)); q.processAllAvailable() }
      finally q.stop()
      // listener bus delivery is async — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      var prog = listener.progressOf(q.id)
      while (!prog.exists(_.totalInputRows == 3L) && System.nanoTime() < deadline) {
        Thread.sleep(100); prog = listener.progressOf(q.id)
      }
      assert(prog.exists(_.totalInputRows == 3L))
    } finally {
      health.close()
      spark.streams.removeListener(listener)
    }
  }

  test("heavyHitters: Misra-Gries bounds hold, state bounded at k counters per shard") {
    import spark.implicits._
    val stream = MemoryStream[String](spark)
    val out = graft.streaming.StreamingOps.heavyHitters(
      stream.toDS().toDF("item"), "item", shards = 1, k = 2)
    val q = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("chk_hh")).start()
    def latest(): Map[String, (Long, Long)] = spark.table("hh_out")
      .groupBy("item")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("min_count"),
          org.apache.spark.sql.functions.col("max_count"))).as("b"))
      .collect().map(r => r.getString(0) ->
        (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
    try {
      // 6×a, 3×b, 1×c, 1×d in one batch; k=2 counters — a must
      // survive (f(a)=6 > N/(k+1)=11/3), and every bound must cover
      // the true frequency
      stream.addData(Seq("a", "a", "b", "a", "b", "a", "c", "a", "d", "a", "b"))
      q.processAllAvailable()
      val s1 = latest()
      assert(s1.size <= 2, s"state leaked past k: $s1")
      assert(s1.contains("a"))
      val trueF = Map("a" -> 6L, "b" -> 3L, "c" -> 1L, "d" -> 1L)
      s1.foreach { case (item, (lo, hi)) =>
        assert(lo <= trueF(item) && trueF(item) <= hi, s"$item bounds $lo..$hi")
      }
      // second batch continues from checkpointed state: a keeps
      // growing and stays the top candidate
      stream.addData(Seq("a", "a", "a"))
      q.processAllAvailable()
      val s2 = latest()
      assert(s2("a")._1 > s1("a")._1)
      assert(s2("a")._2 >= 9L - 3L) // f(a)=9; upper bound can't be below lo
    } finally q.stop()
  }

  test("streaming minhash candidates == batch minhashCandidatePairs on every prefix") {
    import spark.implicits._
    val stream = MemoryStream[(Long, String)](spark)
    val out = StreamingOps.nearDupCandidatesStream(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3)
    val q = out.toDF().writeStream.format("memory").queryName("ndc_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("chk_ndc")).start()
    // two near-dup families + unrelated bulk, split across batches so
    // cross-batch pairs must come from the state store
    val fam1 = "the quick brown fox jumps over the lazy dog again and again"
    val fam2 = "spark builds a logical plan and catalyst optimizes the physical plan"
    val b1 = Seq(
      1L -> fam1,
      2L -> (fam1 + " tail"),
      10L -> fam2,
      50L -> "completely unrelated text with no shared shingles at all here")
    val b2 = Seq(
      3L -> (fam1 + " other"),
      11L -> (fam2 + " extended"),
      51L -> "another fully distinct document about nothing in particular today")
    def streamedPairs(): Set[(String, String)] =
      spark.table("ndc_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    def batchPairs(rows: Seq[(Long, String)]): Set[(String, String)] = {
      val sig = graft.operators.Dedup.minhashSignatureOver(
        rows.toDF("doc_id", "text"), "doc_id",
        graft.operators.Dedup.wordShingles(col("text"), 3), 12)
      graft.operators.Dedup.minhashCandidatePairs(sig, "doc_id", 12, 3)
        .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    }
    try {
      stream.addData(b1); q.processAllAvailable()
      val p1 = streamedPairs()
      assert(p1 == batchPairs(b1), "prefix 1 must equal the batch candidate set")
      assert(p1.contains(("1", "2")), "family-1 pair expected in batch 1")
      stream.addData(b2); q.processAllAvailable()
      val p2 = streamedPairs()
      assert(p2 == batchPairs(b1 ++ b2), "full feed must equal the batch candidate set")
      assert(p2.contains(("10", "11")), "cross-batch family-2 pair must come from state")
    } finally q.stop()
  }

  test("indexed streaming candidates == batch pairs; state store stays EMPTY") {
    import spark.implicits._
    val fam1 = "the quick brown fox jumps over the lazy dog again and again"
    val fam2 = "spark builds a logical plan and catalyst optimizes the physical plan"
    val b1 = Seq(
      1L -> fam1,
      2L -> (fam1 + " tail"),
      10L -> fam2,
      50L -> "completely unrelated text with no shared shingles at all here")
    val b2 = Seq(
      3L -> (fam1 + " other"),
      11L -> (fam2 + " extended"),
      51L -> "another fully distinct document about nothing in particular today")
    def batchPairs(rows: Seq[(Long, String)]): Set[(String, String)] = {
      val sig = graft.operators.Dedup.minhashSignatureOver(
        rows.toDF("doc_id", "text"), "doc_id",
        graft.operators.Dedup.wordShingles(col("text"), 3), 12)
      graft.operators.Dedup.minhashCandidatePairs(sig, "doc_id", 12, 3)
        .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    }
    val idxDir = tmp("ndx_idx")
    val emitted = scala.collection.mutable.Set.empty[(String, String)]
    val stream = MemoryStream[(Long, String)](spark)
    val q = stream.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        emitted ++= StreamingOps.nearDupCandidatesIndexed(
          batch, id, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
          indexDir = idxDir)
          .collect().map(r => (r.getString(0), r.getString(1)))
        ()
      }
      .option("checkpointLocation", tmp("chk_ndx")).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      assert(emitted.toSet == batchPairs(b1), "prefix 1 must equal the batch candidate set")
      stream.addData(b2); q.processAllAvailable()
      assert(emitted.toSet == batchPairs(b1 ++ b2),
        "full feed must equal the batch candidate set")
      assert(emitted.contains(("10", "11")),
        "cross-batch family-2 pair must come from the persisted index")
      // THE claim this operator exists for: zero state-store rows —
      // membership lives in the parquet index, not executor state
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 0L, s"state store must stay empty, found $stateRows rows")
      // retry idempotence: re-running a batchId against the same
      // history reproduces its pair set and leaves the index unchanged
      val idxBefore = spark.read.option("recursiveFileLookup", "true")
        .parquet(idxDir).collect().map(_.toString).sorted.toSeq
      val replay = StreamingOps.nearDupCandidatesIndexed(
        b2.toDF("doc_id", "text"), 1L, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, indexDir = idxDir)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val idxAfter = spark.read.option("recursiveFileLookup", "true")
        .parquet(idxDir).collect().map(_.toString).sorted.toSeq
      assert(idxBefore == idxAfter, "retry must leave the index unchanged")
      assert((emitted.toSet -- batchPairs(b1)) subsetOf replay,
        "retry must re-emit the batch's cross+within pairs")
    } finally q.stop()
  }

  test("index compaction: identical pairs + memberships, collapsed dirs, idempotent") {
    import spark.implicits._
    val fam1 = "the quick brown fox jumps over the lazy dog again and again"
    val fam2 = "spark builds a logical plan and catalyst optimizes the physical plan"
    // six micro-batches that keep adding members to both families
    val batches: Seq[Seq[(Long, String)]] = (0 until 6).map { b =>
      Seq(
        (10L * b + 1) -> (fam1 + (" x" * b)),
        (10L * b + 2) -> (fam2 + (" y" * b)),
        (10L * b + 3) -> s"unique filler document number $b about nothing shared")
    }
    def run(idxDir: String, compactEvery: Option[Int]): Set[(String, String)] = {
      val out = scala.collection.mutable.Set.empty[(String, String)]
      batches.zipWithIndex.foreach { case (rows, id) =>
        out ++= StreamingOps.nearDupCandidatesIndexed(
          rows.toDF("doc_id", "text"), id.toLong, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, indexDir = idxDir)
          .collect().map(r => (r.getString(0), r.getString(1)))
        compactEvery.foreach { n =>
          if ((id + 1) % n == 0)
            StreamingOps.compactNearDupIndex(spark, idxDir, targetFiles = 2)
        }
      }
      out.toSet
    }
    def index(idxDir: String): Seq[String] =
      spark.read.option("recursiveFileLookup", "true").parquet(idxDir)
        .collect().map(_.toString).sorted.toSeq
    val plain = tmp("ndc_plain")
    val compacted = tmp("ndc_compact")
    val pairsPlain = run(plain, None)
    val pairsCompacted = run(compacted, Some(2))
    assert(pairsPlain.nonEmpty && pairsCompacted == pairsPlain,
      "compaction must not change the cumulative pair set")
    assert(index(compacted) == index(plain),
      "compaction must preserve the admitted memberships exactly")
    def dirs(p: String): Seq[String] = new java.io.File(p).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs(plain).size == 6, s"plain run keeps one dir per batch: ${dirs(plain)}")
    assert(dirs(compacted) == Seq("b5", "c4"),
      s"compacted run must hold one c-dir + the newest b-dir, got ${dirs(compacted)}")
    // idempotence / crash-rerun: an immediate second pass is a no-op
    StreamingOps.compactNearDupIndex(spark, compacted, targetFiles = 2)
    assert(dirs(compacted) == Seq("b5", "c4") && index(compacted) == index(plain),
      "re-running compaction must change nothing")
  }

  test("fresh checkpoint against a populated indexDir is REFUSED, not silently overwritten") {
    import spark.implicits._
    val fam = "the quick brown fox jumps over the lazy dog again and again"
    val idxDir = tmp("ndx_reset_idx")
    // populate the index: batches 0 and 1 under the "old" checkpoint
    Seq(0L, 1L).foreach { id =>
      StreamingOps.nearDupCandidatesIndexed(
        Seq((10 * id + 1) -> (fam + s" v$id")).toDF("doc_id", "text"),
        id, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
        indexDir = idxDir).collect()
    }
    // direct form: batchId below the newest member id = lifecycle split
    val ex = intercept[IllegalStateException] {
      StreamingOps.nearDupCandidatesIndexed(
        Seq(99L -> (fam + " reset")).toDF("doc_id", "text"),
        0L, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
        indexDir = idxDir).collect()
    }
    assert(ex.getMessage.contains("checkpoint was reset"), ex.getMessage)
    // retry of the NEWEST batch stays legal (idempotent overwrite)
    StreamingOps.nearDupCandidatesIndexed(
      Seq(11L -> (fam + " v1")).toDF("doc_id", "text"),
      1L, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
      indexDir = idxDir).collect()
    // end-to-end: a restarted query with a FRESH checkpoint (batchIds
    // restart at 0) against the same indexDir must fail, not corrupt
    val stream = MemoryStream[(Long, String)](spark)
    val q = stream.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingOps.nearDupCandidatesIndexed(
          batch, id, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
          indexDir = idxDir).collect()
        ()
      }
      .option("checkpointLocation", tmp("chk_ndx_fresh")).start()
    try {
      stream.addData(Seq(200L -> (fam + " after reset")))
      val qe = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(qe).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("checkpoint was reset")),
        s"expected the lifecycle refusal in the cause chain: $qe")
    } finally q.stop()
    // and the index history survived untouched: b0, b1 intact
    val dirs = new java.io.File(idxDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("b0", "b1"), s"history must survive the refusal: $dirs")
  }

  test("compaction crash between rename and source-delete: reads stay correct, next pass converges") {
    import spark.implicits._
    val fam1 = "the quick brown fox jumps over the lazy dog again and again"
    val fam2 = "spark builds a logical plan and catalyst optimizes the physical plan"
    val batches: Seq[Seq[(Long, String)]] = (0 until 4).map { b =>
      Seq(
        (10L * b + 1) -> (fam1 + (" x" * b)),
        (10L * b + 2) -> (fam2 + (" y" * b)))
    }
    def feed(idxDir: String, upTo: Int): Set[(String, String)] = {
      val out = scala.collection.mutable.Set.empty[(String, String)]
      (0 until upTo).foreach { id =>
        out ++= StreamingOps.nearDupCandidatesIndexed(
          batches(id).toDF("doc_id", "text"), id.toLong, "doc_id", "text",
          n = 3, k = 12, rowsPerBand = 3, indexDir = idxDir)
          .collect().map(r => (r.getString(0), r.getString(1)))
      }
      out.toSet
    }
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => copyDir(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    // control: clean run of all 4 batches, compacted at the end
    val control = tmp("ndc_ctl")
    val controlPairs = feed(control, 4)
    // crashed: 3 batches, compact (c1 + b2), then PLANT the
    // post-rename / pre-source-delete state by restoring b0, b1
    val crashed = tmp("ndc_crash")
    feed(crashed, 3)
    val saved = new java.io.File(tmp("ndc_saved"))
    Seq("b0", "b1").foreach(d =>
      copyDir(new java.io.File(crashed, d), new java.io.File(saved, d)))
    StreamingOps.compactNearDupIndex(spark, crashed, targetFiles = 2)
    Seq("b0", "b1").foreach(d =>
      copyDir(new java.io.File(saved, d), new java.io.File(crashed, d)))
    def dirs(p: String): Seq[String] = new java.io.File(p).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs(crashed) == Seq("b0", "b1", "b2", "c1"),
      s"planted crash state: ${dirs(crashed)}")
    // batch 3 reads the crashed index: the covered-by-c invariant must
    // ignore the stale b0/b1 (double-counted buckets would corrupt
    // admission), so its pairs equal the control's batch-3 pairs
    val p3 = StreamingOps.nearDupCandidatesIndexed(
      batches(3).toDF("doc_id", "text"), 3L, "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3, indexDir = crashed)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ctl3 = StreamingOps.nearDupCandidatesIndexed(
      batches(3).toDF("doc_id", "text"), 3L, "doc_id", "text",
      n = 3, k = 12, rowsPerBand = 3, indexDir = control)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(p3 == ctl3 && p3.nonEmpty,
      s"covered b-dirs must not affect reads: got $p3 vs control $ctl3")
    // next compaction pass converges: recovery sweep removes the
    // stale sources, memberships equal the control index exactly
    StreamingOps.compactNearDupIndex(spark, crashed, targetFiles = 2)
    StreamingOps.compactNearDupIndex(spark, control, targetFiles = 2)
    def index(p: String): Seq[String] =
      spark.read.option("recursiveFileLookup", "true").parquet(p)
        .collect().map(_.toString).sorted.toSeq
    assert(index(crashed) == index(control),
      "post-recovery memberships must equal the clean run")
    assert(dirs(crashed) == dirs(control),
      s"post-recovery layout must converge: ${dirs(crashed)} vs ${dirs(control)}")
  }
}
