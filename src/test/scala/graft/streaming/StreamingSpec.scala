package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc._
import graft.control.{Health, LagListener}

/** End-to-end streaming slice: memory-sourced and `graft-cdc` frames
  * → decode → filter → changelog sink + state MERGE, surviving a
  * restart from checkpoint; health endpoint; progress listener;
  * shutdown hook. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def runBatchesThrough(
      stream: MemoryStream[CdcFrame],
      cfg: CdcPipeline.SinkConfig,
      batches: Seq[Seq[CdcFrame]]): Unit = {
    val events = CdcDecode.decode(stream.toDS().coalesce(1), cfg.streamId)
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
    // the manifest moves only after both writes completed
    assert(store.latestVersion.isEmpty)
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
    // the state is the base snapshot with batch 0 as its tail
    val m = store.manifest.get
    assert(m.tail == Seq(0L) && m.snapshot == -1L)
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
    // the same as the MERGE over plain (schema-inferring) parquet reads
    val plain = Changelog.apply(spark.read.parquet(s"${cfg.stateDir}/v=-1"),
      spark.read.parquet(s"${cfg.eventsOutDir}/batch=0"), cfg.table, cfg.keyCol, cfg.valueCols)
    assert(state.schema == plain.schema)
    assert(state.collect().map(_.toSeq).sortBy(_.head.toString).toSeq ==
      plain.collect().map(_.toSeq).sortBy(_.head.toString).toSeq)
    assert(state.orderBy(col("id").cast("int")).collect().map(_.toSeq).toSeq == goldenFinalState)
  }

  /** The golden events, one batch per event (lsn order). */
  private def goldenEventBatches: Seq[org.apache.spark.sql.DataFrame] = {
    val all = goldenBatch
    all.select("lsn").orderBy("lsn").collect().map(_.getLong(0)).toSeq
      .map(l => all.filter(col("lsn") === l))
  }

  /** Run `batches` as batch ids 0.. through processBatch, calling
    * `each(id)` after each. */
  private def runEach(cfg: CdcPipeline.SinkConfig, store: CdcPipeline.StateStore,
      batches: Seq[org.apache.spark.sql.DataFrame])(each: Long => Unit = _ => ()): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      CdcPipeline.processBatch(b, i.toLong, UsersFixture.baseState(spark), cfg, store)
      each(i.toLong)
    }

  test("a fault before the manifest moves: the replay is exactly-once") {
    val cfg = sinkCfg("stream_manifest_fault")
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    val batches = goldenEventBatches
    runEach(cfg, store, batches.take(2))()
    // the manifest's temporary file cannot be written: K1 (and any
    // compaction) completed, but the manifest still ends at batch 1
    val tmpFile = java.nio.file.Paths.get(cfg.stateDir, ".MANIFEST.2.tmp")
    Files.createDirectory(tmpFile)
    intercept[java.io.IOException](
      CdcPipeline.processBatch(batches(2), 2L, UsersFixture.baseState(spark), cfg, store))
    assert(store.latestVersion.contains(1L))
    Files.delete(tmpFile)
    CdcPipeline.processBatch(batches(2), 2L, UsersFixture.baseState(spark), cfg, store)
    runEach(cfg, store, batches)()
    assertGolden(cfg)
    assert(store.latestVersion.contains(4L))
  }

  test("a compaction that fails while K1 runs: the replay is exactly-once") {
    val cfg = sinkCfg("stream_compaction_fault")
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    val batches = goldenEventBatches
    // run up to the first batch that compacts
    var id = 0
    while (store.manifest.forall(m => !store.compacts(m))) {
      CdcPipeline.processBatch(batches(id), id.toLong, UsersFixture.baseState(spark), cfg, store)
      id += 1
    }
    assert(id < batches.size)
    val m = store.manifest.get
    // the compaction cannot open the snapshot it reads
    val schema = java.nio.file.Paths.get(cfg.stateDir, s"v=${m.snapshot}", "_schema.json")
    val hidden = java.nio.file.Paths.get(cfg.stateDir, "schema.hidden")
    Files.move(schema, hidden)
    intercept[java.nio.file.NoSuchFileException](
      CdcPipeline.processBatch(batches(id), id.toLong, UsersFixture.baseState(spark), cfg, store))
    assert(store.manifest.contains(m))
    Files.move(hidden, schema)
    runEach(cfg, store, batches)()
    assert(store.manifest.get.snapshot >= id - 1L, s"the replayed batch $id compacted")
    assertGolden(cfg)
    assert(spark.read.parquet(cfg.eventsOutDir).select("lsn").distinct().count() == 5)
  }

  test("a replayed batch that the manifest already holds rewrites nothing") {
    val cfg = sinkCfg("stream_replay_noop")
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    CdcPipeline.processBatch(goldenBatch, 0L, UsersFixture.baseState(spark), cfg, store)
    def files(dir: String): Seq[(String, java.nio.file.attribute.FileTime)] = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p)).toSeq.sorted
      finally w.close()
    }
    val before = (files(s"${cfg.eventsOutDir}/batch=0"), files(cfg.stateDir))
    Thread.sleep(20) // a rewrite would carry a later mtime
    CdcPipeline.processBatch(goldenBatch, 0L, UsersFixture.baseState(spark), cfg, store)
    assert((files(s"${cfg.eventsOutDir}/batch=0"), files(cfg.stateDir)) == before)
    assertGolden(cfg)
  }

  test("compactions keep at most two snapshot versions; a restart between the manifest move and the delete stays golden") {
    val cfg = sinkCfg("stream_snapshot_gc")
    val store = new CdcPipeline.StateStore(cfg.stateDir)
    val batches = goldenEventBatches
    val backup = java.nio.file.Paths.get(tmp("state_backup"))
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val w = Files.walk(from)
      try w.iterator().asScala.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally w.close()
    }
    var snapshots = Set.empty[Long]
    var restarted = false
    runEach(cfg, store, batches) { id =>
      val m = store.manifest.get
      snapshots += m.snapshot
      assert(store.versions.size <= 2, store.versions)
      assert(store.versions.contains(m.snapshot))
      if (!restarted && snapshots.size == 3) {
        // crash after the manifest moved and before the delete: the
        // deleted version is back, then the stream restarts and
        // replays the batch
        restarted = true
        val gone = snapshots.min
        assert(!store.versions.contains(gone))
        copyTree(backup.resolve(s"v=$gone"), java.nio.file.Paths.get(cfg.stateDir, s"v=$gone"))
        assert(store.versions.size == 3)
        val restart = new CdcPipeline.StateStore(cfg.stateDir)
        CdcPipeline.processBatch(batches(id.toInt), id, UsersFixture.baseState(spark), cfg, restart)
        assert(restart.manifest.contains(m))
      }
      store.versions.foreach(v =>
        copyTree(java.nio.file.Paths.get(cfg.stateDir, s"v=$v"), backup.resolve(s"v=$v")))
    }
    assert(restarted, s"three snapshots over five batches: $snapshots")
    assertGolden(cfg)
    // the next manifest move deletes the leftover
    CdcPipeline.processBatch(goldenBatch.limit(0), batches.size.toLong,
      UsersFixture.baseState(spark), cfg, store)
    assert(store.versions.size <= 2, store.versions)
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
      CdcDecode.decode(
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
      CdcDecode.decode(
        CdcPipeline.framesFromCdcSource(spark, feedDir, maxFramesPerTrigger = 3),
        cfg.streamId),
      UsersFixture.baseState(spark), cfg)
    try q2.processAllAvailable() finally q2.stop()

    assertGolden(cfg)
    // feedback advanced monotonically across the restart
    val f2 = CdcFrameFiles.readFeedback(feedDir)
    assert(f2.exists(l => l >= frames(7).lsn && f1.forall(_ <= l)), s"feedback after run2: $f2")
  }

  test("graft-cdc pipeline: a cold restart recovers the relation registry from registryDir") {
    import graft.sources.CdcFrameFiles
    val feedDir = tmp("cdcf_cold")
    val regDir = tmp("registry")
    val cfg = sinkCfg("stream_cold") // ONE checkpoint for both runs
    val frames = UsersFixture.frames
    def runOnce(): Unit = {
      val q = CdcPipeline.run(
        CdcDecode.decode(CdcPipeline.framesFromCdcSource(spark, feedDir), cfg.streamId,
          registryDir = Some(regDir)),
        UsersFixture.baseState(spark), cfg)
      try q.processAllAvailable() finally q.stop()
    }
    CdcDecode.resetStream(cfg.streamId)
    CdcFrameFiles.write(feedDir, "0001", frames.take(7))
    runOnce()
    // JVM-cold restart: the in-memory registry is gone, and the new
    // frames carry no Relation frame to rebuild it from
    CdcDecode.resetStream(cfg.streamId)
    assert(!frames.drop(7).exists(_.payload(0) == 'R'))
    CdcFrameFiles.write(feedDir, "0002", frames.drop(7))
    runOnce()
    assertGolden(cfg)
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
    val counts = CdcDecode.decode(stream.toDS().coalesce(1), "stream_ct").toDF()
      .withColumn("event_time",
        timestamp_micros(coalesce(col("commitMicros"), col("timestampMicros"))))
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

  /** A streaming query over the wire envelope that discards its rows. */
  private def noopSink(events: org.apache.spark.sql.Dataset[CdcEvent]) =
    CdcDecode.toWireDf(events).writeStream.format("noop").start()

  test("awaitWithShutdownHook (C4) blocks until the query stops, then returns") {
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    CdcDecode.resetStream("stream_hook")
    val events = CdcDecode.decode(stream.toDS().coalesce(1), "stream_hook")
    val q = noopSink(events)
    val waiter = new Thread(() => CdcPipeline.awaitWithShutdownHook(q))
    waiter.start()
    stream.addData(UsersFixture.frames.take(3))
    q.processAllAvailable()
    assert(waiter.isAlive) // still blocked while the query is active
    q.stop()               // the hook path does the same stop() on JVM exit
    waiter.join(30000)
    assert(!waiter.isAlive)
  }

  test("the wire envelope runs through a micro-batch; shutdown hook (C4) stops and unblocks") {
    // a query over the decoded wire envelope must process a batch and
    // stop cleanly
    CdcDecode.resetStream("stream_envelope")
    val stream = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    val q = noopSink(CdcDecode.decode(stream.toDS().coalesce(1), "stream_envelope"))
    try {
      stream.addData(UsersFixture.frames)
      q.processAllAvailable()
      assert(q.isActive && q.lastProgress != null)
    } finally q.stop()

    // C4: the hook's stop action ends an active query, is a no-op on
    // a stopped one, and awaitWithShutdownHook unblocks on stop
    CdcDecode.resetStream("stream_c4")
    val s2 = MemoryStream[CdcFrame](spark)(Encoders.product[CdcFrame])
    val q2 = noopSink(CdcDecode.decode(s2.toDS().coalesce(1), "stream_c4"))
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
}
