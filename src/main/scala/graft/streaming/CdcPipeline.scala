package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
    * Snapshots ride beside K1 ([[graft.util.Jobs.concurrently]]): the
    * first batch writes the caller's `base` as the initial snapshot,
    * and a batch that finds the tail's bytes at or above the
    * snapshot's compacts the tail into a new snapshot, so the state's
    * write and read amplification stay within 2× with no knob.
    *
    * Exactly-once: Structured Streaming replays the last uncommitted
    * batch after a crash, so each effect is idempotent per `batchId`:
    *  - the manifest names only batches whose K1 write completed and
    *    only whole snapshot versions, and moves atomically after both;
    *  - K1 writes a `batch=<id>` subdirectory with OVERWRITE, and a
    *    compaction writes `v=<last tail batch>` the same way, never
    *    reading the version it writes, so a replay of a batch that
    *    failed before the manifest moved redoes both;
    *  - a replayed batch that the manifest already holds does nothing.
    * When either write throws, the other's Spark jobs are cancelled
    * and awaited before the exception leaves this method, so the
    * replay never races a stale write. */
  def processBatch(batch: DataFrame, batchId: Long, base: DataFrame,
      cfg: SinkConfig, store: StateStore): Unit = {
    val before = store.manifest
    if (before.forall(_.version < batchId)) {
      val published = cfg.publishedTables
        .map(ts => batch.filter(col("table").isin(ts.toSeq: _*)))
        .getOrElse(batch)
      val (snapshot, tail, compact) = before match {
        case None => (batchId - 1, Nil, Some(() => base))
        case Some(m) if store.compacts(m) =>
          (m.version, Nil, Some(() => store.open(batch.sparkSession, m)))
        case Some(m) => (m.snapshot, m.tail, None)
      }
      Jobs.concurrently(
        (() => published.write.mode("overwrite").partitionBy("table")
          .parquet(s"${cfg.eventsOutDir}/batch=$batchId")) +:
          compact.map(state => () => store.writeSnapshot(state(), snapshot)).toSeq: _*)
      store.commit(StateStore.Manifest(snapshot, tail :+ batchId, Some(StateStore.Log(
        cfg.eventsOutDir, cfg.table, cfg.keyCol, cfg.valueCols, published.schema))))
    }
  }

  /** Run the full slice. Offsets live in the checkpoint (write-ahead,
    * replayable) and [[processBatch]] is idempotent per batch id, so
    * the pipeline is exactly-once end-to-end across crash/restart. */
  def run(events: Dataset[CdcEvent], base: DataFrame, cfg: SinkConfig): StreamingQuery = {
    val store = new StateStore(cfg.stateDir)
    CdcDecode.toWireDf(events)
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, base, cfg, store)
      }
      .start()
  }

  /** The C4 stop action, exposed so its behavior is testable without
    * a JVM shutdown: stops the query if (and only if) still active. */
  private[streaming] def shutdownHook(query: StreamingQuery): Thread =
    new Thread(() => if (query.isActive) query.stop(), "graft-shutdown")

  /** Graceful shutdown (reference C4, cdc_consumer.py:108-116): stop
    * the query on JVM shutdown, then block until termination. */
  def awaitWithShutdownHook(query: StreamingQuery): Unit = {
    val hook = shutdownHook(query)
    Runtime.getRuntime.addShutdownHook(hook)
    try query.awaitTermination()
    finally scala.util.Try(Runtime.getRuntime.removeShutdownHook(hook))
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
    * batches). A move deletes every version but the one the manifest
    * names and the newest whole one before it, so a reader that
    * opened the older one can finish. */
  final class StateStore(dir: String) {
    import StateStore._

    private val root = Paths.get(dir)
    private val manifestFile = root.resolve("MANIFEST")

    private def versionDir(v: Long): Path = root.resolve(s"v=$v")
    private def schemaFile(v: Long): Path = versionDir(v).resolve("_schema.json")

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
      commit(Manifest(batchId, Nil, None))
    }

    /** Write `df` as snapshot version `v`: its files, then its schema
      * (`_`-prefixed, so parquet listing skips it). */
    private[streaming] def writeSnapshot(df: DataFrame, v: Long): Unit = {
      df.write.mode("overwrite").parquet(versionDir(v).toString)
      Files.writeString(schemaFile(v), df.schema.json)
      ()
    }

    /** Move the manifest onto `m`, then delete the superseded versions. */
    private[streaming] def commit(m: Manifest): Unit = {
      Files.createDirectories(root)
      val tmp = root.resolve(s".MANIFEST.${m.version}.tmp")
      Files.writeString(tmp, m.render)
      Files.move(tmp, manifestFile, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      val whole = versions.filter(v => v < m.snapshot && Files.exists(schemaFile(v)))
      val keep = Set(m.snapshot) ++ whole.maxOption
      versions.filterNot(keep).foreach(v => deleteTree(versionDir(v)))
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

    /** Whether the next batch compacts `m`'s tail: its files have
      * reached the bytes of the snapshot's. */
    private[streaming] def compacts(m: Manifest): Boolean = m.tail.nonEmpty && m.log.exists { l =>
      m.tail.map(b => treeBytes(Paths.get(l.root, s"batch=$b", s"table=${l.table}"))).sum >=
        treeBytes(versionDir(m.snapshot))
    }
  }

  object StateStore {
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
