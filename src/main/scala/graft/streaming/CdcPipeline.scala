package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, Future, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.cdc._
import graft.util.Jobs

/** The end-to-end streaming slice (SURVEY §3.1 mapped to Structured
  * Streaming): ordered pgoutput frames → per-partition decode →
  * table filter (F1/F2) → per micro-batch:
  *
  *  - append the wire-envelope events to a parquet changelog (K1),
  *  - name the batch in the current-state store's manifest, whose
  *    state is the changelog tail merged onto a snapshot via
  *    [[Changelog]], keyed and lsn-ordered (the X2 ordering fix).
  *
  * Delivery semantics: offsets live in the checkpoint (write-ahead,
  * replayable) and the sink and state writes are idempotent per batch id,
  * so end-to-end the pipeline is exactly-once — strictly stronger than
  * the reference's ack-after-enqueue (up to 1000 events lost on crash,
  * utils/postgre_cdc_consumer.py:99 + cdc_consumer.py:16).
  *
  * Backpressure (X1): the `graft-cdc` source's `maxFramesPerTrigger`
  * admission instead of a blocking bounded queue.
  */
object CdcPipeline {

  final case class SinkConfig(
      streamId: String,
      eventsOutDir: String,
      stateDir: String,
      checkpointDir: String,
      table: String,
      keyCol: String,
      valueCols: Seq[String],
      publishedTables: Option[Set[String]] = None) // F1 publication filter

  /** Frame stream from the DSv2 `graft-cdc` source (LSN offsets in
    * the checkpoint, `commit` publishes feedback, admission-capped —
    * the full-fidelity S1 replication-loop mapping; see
    * [[graft.sources.CdcFrameProvider]]). The source emits one
    * LSN-ordered partition per stream, so a Relation frame always
    * decodes before the changes that name it.
    *
    * `txnAtomic = true` opts into transaction-atomic batches: the
    * planned end offset only lands on Commit-frame LSNs, so no
    * micro-batch ever splits a transaction (see
    * [[graft.sources.CdcMicroBatchStream]] for the cap interaction). */
  def framesFromCdcSource(
      spark: SparkSession, dir: String,
      maxFramesPerTrigger: Long = Long.MaxValue,
      txnAtomic: Boolean = false): Dataset[CdcFrame] = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[CdcFrame]
    spark.readStream.format("graft-cdc")
      .option("path", dir)
      .option("maxFramesPerTrigger", maxFramesPerTrigger)
      .option("txnAtomic", txnAtomic)
      .load()
      .as[CdcFrame]
  }

  /** One micro-batch of the sink side: append the published wire
    * events to the changelog (K1), then move the state store's
    * manifest so its tail names the batch. The changelog is the
    * state's log: the current state is the tail merged onto the last
    * snapshot on read ([[StateStore]]), so a batch writes no state
    * rows. K1 needs no cache and no repartition: a stream decodes as
    * one LSN-ordered partition, written once.
    *
    * The first batch writes the caller's `base` as the initial
    * snapshot beside K1 ([[graft.util.Jobs.concurrently]]). A batch
    * that finds the tail's bytes at or above the snapshot's hands the
    * manifest it found to the store's background compactor
    * (`StateStore.compactInBackground`) and does not wait for it,
    * so the state's write and read amplification stay within 2× with
    * no knob and a compaction never blocks a batch.
    *
    * Exactly-once: Structured Streaming replays the last uncommitted
    * batch after a crash, so each effect is idempotent per `batchId`:
    *  - the manifest names only batches whose K1 write completed and
    *    only whole snapshot versions; a batch moves it after K1, and a
    *    compaction after its snapshot's files and schema;
    *  - K1 writes a `batch=<id>` subdirectory with OVERWRITE, so a
    *    replay of a batch that failed before the manifest moved redoes
    *    it; a compaction writes `v=<last tail batch>` the same way,
    *    and a version the manifest never named is deleted once a
    *    later snapshot passes it;
    *  - a replayed batch that the manifest already holds does nothing;
    *  - a failed compaction is rethrown by the next batch before it
    *    writes anything, so the stream stops and its restart retries.
    * When K1 or the initial snapshot throws, the other's Spark jobs
    * are cancelled and awaited before the exception leaves this
    * method, so the replay never races a stale write. */
  def processBatch(batch: DataFrame, batchId: Long, base: DataFrame,
      cfg: SinkConfig, store: StateStore): Unit = {
    store.rethrowFailure()
    val before = store.manifest
    if (before.forall(_.version < batchId)) {
      val published = cfg.publishedTables
        .map(ts => batch.filter(col("table").isin(ts.toSeq: _*)))
        .getOrElse(batch)
      before.filter(store.compacts).foreach(store.compactInBackground(batch.sparkSession, _))
      val k1 = () => published.write.mode("overwrite").partitionBy("table")
        .parquet(s"${cfg.eventsOutDir}/batch=$batchId")
      if (before.isEmpty) Jobs.concurrently(k1, () => store.writeSnapshot(base, batchId - 1))
      else k1()
      store.append(batchId, StateStore.Log(
        cfg.eventsOutDir, cfg.table, cfg.keyCol, cfg.valueCols, published.schema))
    }
  }

  /** Run the full slice. Offsets live in the checkpoint (write-ahead,
    * replayable) and [[processBatch]] is idempotent per batch id, so
    * the pipeline is exactly-once end-to-end across crash/restart.
    *
    * The run owns a state store, closed when its query terminates, so
    * no compaction outlives it. An earlier run's store on the same
    * directory is closed before the query starts: its compaction may
    * still run after its query stopped, and only one store may move
    * a directory's manifest. */
  def run(events: Dataset[CdcEvent], base: DataFrame, cfg: SinkConfig): StreamingQuery = {
    val store = new StateStore(cfg.stateDir)
    val dir = Paths.get(cfg.stateDir).toAbsolutePath.normalize
    Option(runs.get(dir)).foreach(close(dir, _))
    val query = CdcDecode.toWireDf(events)
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, base, cfg, store)
      }
      .start()
    val owner = Owner(query.runId, store)
    runs.put(dir, owner)
    // the listener bus must not wait for the close, so it runs on its own thread
    def closeLater(): Unit = {
      val t = new Thread(() => close(dir, owner), s"graft-state-close-${query.runId}")
      t.setDaemon(true)
      t.start()
    }
    val streams = events.sparkSession.streams
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == query.runId) { streams.removeListener(this); closeLater() }
    }
    streams.addListener(listener)
    // a query that ended before the listener was added posts no event to it
    if (!query.isActive) { streams.removeListener(listener); closeLater() }
    query
  }

  /** A query run's state store. */
  private final case class Owner(runId: UUID, store: StateStore)

  /** The open store of each state directory [[run]] writes. */
  private val runs = new ConcurrentHashMap[Path, Owner]()

  /** Close a run's store, then forget it unless a later run took the
    * directory. A second caller waits for the close too. */
  private def close(dir: Path, owner: Owner): Unit = {
    owner.store.close()
    runs.remove(dir, owner)
    ()
  }

  /** The C4 stop action, exposed so its behavior is testable without
    * a JVM shutdown: stops the query if (and only if) still active. */
  private[streaming] def shutdownHook(query: StreamingQuery): Thread =
    new Thread(() => if (query.isActive) query.stop(), "graft-shutdown")

  /** Graceful shutdown (reference C4, cdc_consumer.py:108-116): stop
    * the query on JVM shutdown, then block until termination and the
    * close of its state store, if [[run]] started it. */
  def awaitWithShutdownHook(query: StreamingQuery): Unit = {
    val hook = shutdownHook(query)
    Runtime.getRuntime.addShutdownHook(hook)
    try query.awaitTermination()
    finally {
      scala.util.Try(Runtime.getRuntime.removeShutdownHook(hook))
      runs.asScala.find(_._2.runId == query.runId).foreach { case (dir, owner) => close(dir, owner) }
    }
  }

  /** Merge-on-read state store. The directory holds whole snapshot
    * versions `v=<n>` (the state after batch n, with the schema in
    * `v=<n>/_schema.json`) and a `MANIFEST`, moved atomically, that
    * names the current snapshot, the committed changelog batches
    * after it (the tail) and how to read them. The state is the tail
    * merged onto the snapshot ([[graft.cdc.Changelog.applyBatches]]),
    * opened with no Spark job while the tail stays within Spark's
    * serial file-listing threshold
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32
    * batches).
    *
    * One background thread per store compacts: it writes the state a
    * manifest names as the version of its last batch, then advances
    * the snapshot while the manifest still starts with what it
    * compacted, keeping the batches appended since as the tail. The
    * batches' appends and the compactor's advance move the manifest
    * under one lock, so neither loses the other's move, and the
    * manifest names only whole snapshots: the state reads the same
    * whether a compaction runs or not. At most one compaction runs at
    * a time; its Spark jobs carry the store's own job tag, and
    * [[close]] cancels them. A failed compaction is kept and rethrown
    * by the next batch.
    *
    * A move deletes the versions below the snapshot it names but the
    * newest whole one, so a reader that opened that one can finish. A
    * version above the snapshot is an in-flight compaction's target,
    * or the partial write of one that died; it stays until a later
    * snapshot passes it. One store writes a directory at a time: the
    * lock and the compactor are the store object's, and [[run]] closes
    * an earlier run's store before its query starts. */
  final class StateStore(dir: String) {
    import StateStore._

    private val root = Paths.get(dir)
    private val manifestFile = root.resolve("MANIFEST")

    private def versionDir(v: Long): Path = root.resolve(s"v=$v")
    private def schemaFile(v: Long): Path = versionDir(v).resolve("_schema.json")

    /** The job tag of this store's compactions; also its thread's name. */
    private val compactorTag = s"graft-compactor-${ids.incrementAndGet()}"

    /** Held while the manifest moves. */
    private val moves = new Object

    private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

    /** The compactor; its one thread starts with the first compaction. */
    private val compactor = Executors.newSingleThreadExecutor(compactorThread)

    // the compactor's state, guarded by `this`
    private var running: Option[(Future[_], SparkContext)] = None
    private var failure: Option[Throwable] = None
    private var closed = false

    def manifest: Option[Manifest] =
      if (Files.exists(manifestFile)) Some(Manifest.parse(Files.readString(manifestFile))) else None

    /** The last batch the state holds. */
    def latestVersion: Option[Long] = manifest.map(_.version)

    /** The current state; see [[open]]. */
    def latest(spark: SparkSession): Option[DataFrame] = manifest.map(open(spark, _))

    /** The state `m` names: its snapshot, read with the schema
      * [[writeSnapshot]] recorded, with the tail merged on. Opening it
      * runs no Spark job; a missing schema file fails here with a
      * `NoSuchFileException` naming it. */
    private[streaming] def open(spark: SparkSession, m: Manifest): DataFrame = {
      val schema = DataType.fromJson(Files.readString(schemaFile(m.snapshot))).asInstanceOf[StructType]
      val snapshot = spark.read.schema(schema).parquet(versionDir(m.snapshot).toString)
      m.log.filter(_ => m.tail.nonEmpty).fold(snapshot) { l =>
        val tail = spark.read.schema(l.schema.add("batch", LongType))
          .option("basePath", l.root)
          .parquet(m.tail.map(b => s"${l.root}/batch=$b"): _*)
        Changelog.applyBatches(snapshot, tail, l.table, l.keyCol, l.valueCols)
      }
    }

    /** Record `df` as the whole state after `batchId`: a snapshot with
      * an empty tail. */
    def write(df: DataFrame, batchId: Long): Unit = {
      writeSnapshot(df, batchId)
      move(_ => Some(Manifest(batchId, Nil, None)))
      ()
    }

    /** Write `df` as snapshot version `v`: its files, then its schema
      * (`_`-prefixed, so parquet listing skips it). */
    private[streaming] def writeSnapshot(df: DataFrame, v: Long): Unit = {
      df.write.mode("overwrite").parquet(versionDir(v).toString)
      Files.writeString(schemaFile(v), df.schema.json)
      ()
    }

    /** Append `batchId`, read with `log`, to the current tail. With no
      * manifest yet, the tail starts on snapshot `batchId - 1`, which
      * the caller wrote. */
    private[streaming] def append(batchId: Long, log: Log): Unit = {
      move(current => Some(current.fold(Manifest(batchId - 1, Seq(batchId), Some(log)))(
        c => Manifest(c.snapshot, c.tail :+ batchId, Some(log)))))
      ()
    }

    /** Move the manifest from the current one to `next` of it, if
      * that is defined, under the store's lock. Returns whether it
      * moved. */
    private def move(next: Option[Manifest] => Option[Manifest]): Boolean = moves.synchronized {
      next(manifest) match {
        case Some(m) => commit(m); true
        case None => false
      }
    }

    /** Move the manifest onto `m`, then delete the versions below its
      * snapshot but the newest whole one. */
    private def commit(m: Manifest): Unit = {
      Files.createDirectories(root)
      val tmp = root.resolve(s".MANIFEST.${m.version}.tmp")
      Files.writeString(tmp, m.render)
      Files.move(tmp, manifestFile, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      val below = versions.filter(_ < m.snapshot)
      val keep = below.filter(v => Files.exists(schemaFile(v))).maxOption
      below.filterNot(keep.contains).foreach(v => deleteTree(versionDir(v)))
    }

    /** Start compacting `m` on the compactor thread, unless a
      * compaction is running or the store is closed. */
    private[streaming] def compactInBackground(spark: SparkSession, m: Manifest): Unit = synchronized {
      if (!closed && running.forall(_._1.isDone))
        running = Some(compactor.submit(new Runnable { def run(): Unit = compact(spark, m) }) -> spark.sparkContext)
    }

    /** The compactor's one daemon thread. It inherits no inheritable
      * thread-locals: with a micro-batch's Spark local properties (its
      * query's job group, its SQL execution id), a stop of the query
      * would cancel the compaction as one of the batch's jobs. */
    private def compactorThread: ThreadFactory = (r: Runnable) => {
      val t = new Thread(null, r, compactorTag, 0L, false)
      t.setDaemon(true)
      t
    }

    /** Write the state `m` names as `v=<m.version>`, then advance the
      * snapshot to it if the manifest still starts with `m`. A failure
      * is kept for [[rethrowFailure]]; one after [[close]] is its
      * cancel, and only logged. */
    private def compact(spark: SparkSession, m: Manifest): Unit = {
      val t0 = System.nanoTime()
      if (!synchronized(closed)) try {
        SparkSession.setActiveSession(spark)
        // [[close]] cancels by this tag, and SQL jobs interrupt their
        // tasks on cancel (`spark.sql.execution.interruptOnCancel`): a
        // task interrupted while it loads a class for its generated code
        // from the driver logs `RemoteClassLoaderError` and a codegen
        // fallback just before it is killed. That is the cancel, not a
        // failure of the compaction.
        spark.sparkContext.addJobTag(compactorTag)
        writeSnapshot(open(spark, m), m.version)
        val advanced = move(_.filter(c => c.snapshot == m.snapshot && c.tail.startsWith(m.tail))
          .map(c => c.copy(snapshot = m.version, tail = c.tail.drop(m.tail.size))))
        logger.info(s"$compactorTag: compacted snapshot v=${m.snapshot} and tail batches " +
          s"${m.tail.mkString(",")} into v=${m.version}: ${treeBytes(versionDir(m.version))} bytes in " +
          s"${(System.nanoTime() - t0) / 1000000} ms" +
          (if (advanced) "" else "; the manifest moved on without it, so it stays unnamed"))
      } catch {
        // everything, fatal errors included: the executor's future
        // would swallow them, and the next batch must see them
        case e: Throwable => synchronized {
          if (closed)
            logger.info(s"$compactorTag: compacting v=${m.snapshot} into v=${m.version} was cancelled " +
              s"by the store's close (${e.getClass.getName}); Spark's task errors logged with it are the cancel")
          else {
            logger.warn(s"$compactorTag: compacting v=${m.snapshot} into v=${m.version} failed; " +
              "the next batch rethrows it", e)
            failure = Some(e)
          }
        }
      }
    }

    /** Throw the exception a compaction failed with, once. */
    private[streaming] def rethrowFailure(): Unit = synchronized {
      failure.foreach { e => failure = None; throw e }
    }

    /** Wait for the running compaction, if any, to finish. */
    private[streaming] def awaitCompaction(): Unit =
      synchronized(running).foreach(_._1.get())

    /** Stop compacting: cancel the running compaction's Spark jobs,
      * wait for it, and let the compactor thread exit. No compaction
      * starts after. The manifest names only whole snapshots, so a
      * cancelled compaction leaves the state as it was. A failure no
      * batch has rethrown yet is logged as an error. */
    def close(): Unit = {
      val (inFlight, kept) = synchronized {
        closed = true
        val kept = failure
        failure = None
        (running, kept)
      }
      kept.foreach(e => logger.error(s"$compactorTag: the store closed with a compaction failure " +
        "no batch rethrew; the next run's first due compaction retries it", e))
      inFlight.foreach { case (f, sc) =>
        // a cancel reaches only the jobs running at that moment, so it
        // repeats until the compaction has ended, and once after for
        // a job it left running
        def cancel(): Unit = sc.cancelJobsWithTag(compactorTag, "the state store was closed")
        while (!f.isDone) {
          cancel()
          try f.get(100, TimeUnit.MILLISECONDS) catch { case _: TimeoutException => () }
        }
        cancel()
      }
      compactor.shutdown()
      compactor.awaitTermination(60, TimeUnit.SECONDS)
      ()
    }

    /** Snapshot versions present in the directory, whole or not. */
    private[streaming] def versions: Seq[Long] =
      if (!Files.isDirectory(root)) Nil
      else {
        val s = Files.list(root)
        try s.iterator().asScala.map(_.getFileName.toString)
          .collect { case Version(v) => v.toLong }.toSeq.sorted
        finally s.close()
      }

    /** Whether `m`'s tail is due for compaction: its files have
      * reached the bytes of the snapshot's. */
    private[streaming] def compacts(m: Manifest): Boolean = m.tail.nonEmpty && m.log.exists { l =>
      m.tail.map(b => treeBytes(Paths.get(l.root, s"batch=$b", s"table=${l.table}"))).sum >=
        treeBytes(versionDir(m.snapshot))
    }
  }

  object StateStore {
    private val ids = new AtomicLong()
    private val Version = "v=(-?[0-9]+)".r

    /** Where a tail's batches are and how they merge: the changelog
      * root holding K1's `batch=<id>` directories, the table, its key
      * and value columns, and the schema K1 wrote. */
    final case class Log(root: String, table: String, keyCol: String, valueCols: Seq[String],
        schema: StructType)

    /** The snapshot version, the committed batches after it, and the
      * log they are read from (absent while the tail is empty). */
    final case class Manifest(snapshot: Long, tail: Seq[Long], log: Option[Log]) {
      /** The last batch the state holds. */
      def version: Long = tail.lastOption.getOrElse(snapshot)

      def render: String = {
        val n = Json.createObjectNode()
        n.put("snapshot", snapshot)
        tail.foldLeft(n.putArray("tail"))(_.add(_))
        log.foreach { l =>
          n.put("changelog", l.root).put("table", l.table).put("key", l.keyCol)
          l.valueCols.foldLeft(n.putArray("values"))(_.add(_))
          n.set[JsonNode]("tailSchema", Json.readTree(l.schema.json))
        }
        Json.writerWithDefaultPrettyPrinter().writeValueAsString(n)
      }
    }

    object Manifest {
      def parse(s: String): Manifest = {
        val n = Json.readTree(s)
        Manifest(n.get("snapshot").asLong, n.get("tail").asScala.map(_.asLong).toSeq,
          Option(n.get("changelog")).map(root => Log(root.asText, n.get("table").asText,
            n.get("key").asText, n.get("values").asScala.map(_.asText).toSeq,
            DataType.fromJson(n.get("tailSchema").toString).asInstanceOf[StructType])))
      }
    }

    private val Json = new ObjectMapper()

    private def files(p: Path): Seq[Path] =
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.toSeq finally s.close()
      }

    private def treeBytes(p: Path): Long = files(p).filter(Files.isRegularFile(_)).map(Files.size).sum

    private def deleteTree(p: Path): Unit = files(p).reverse.foreach(Files.deleteIfExists)
  }
}
