package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.cdc._
import graft.util.Jobs

/** The end-to-end streaming slice (SURVEY §3.1 mapped to Structured
  * Streaming): ordered pgoutput frames → per-partition decode →
  * table filter (F1/F2) → two sinks in one micro-batch:
  *
  *  - append the wire-envelope events to a parquet changelog (K1),
  *  - MERGE the batch into the current-state store (K2) via
  *    [[Changelog]], keyed and lsn-ordered (the X2 ordering fix).
  *
  * Delivery semantics: offsets live in the checkpoint (write-ahead,
  * replayable) and the state store writes are idempotent per batch id,
  * so end-to-end the pipeline is exactly-once — strictly stronger than
  * the reference's ack-after-enqueue (up to 1000 events lost on crash,
  * utils/postgre_cdc_consumer.py:99 + cdc_consumer.py:16).
  *
  * Backpressure (X1): `maxFilesPerTrigger`/`maxOffsetsPerTrigger`
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

  /** Decode a streaming Dataset of frames (source-agnostic: memory
    * stream for tests, file/Kafka feed in production). */
  def decode(frames: Dataset[CdcFrame], streamId: String): Dataset[CdcEvent] =
    CdcDecode.decode(frames, streamId)

  /** Frame stream from a parquet directory feed (the simplest durable
    * CDC transport: the capture side drops frame files, we tail them).
    *
    * One replication stream is totally ordered, so the feed is
    * coalesced to ONE partition: the file source would otherwise split
    * a batch's frames across up to `maxFilesPerTrigger` partitions,
    * letting change frames decode before their Relation frame (silent
    * unknown-relation drops) and racing concurrent tasks on the
    * per-stream decoder registry. Frames may still arrive out of lsn
    * order WITHIN the partition (file listing order ≠ lsn order) —
    * decode with `sortByLsn = true` ([[CdcDecode.decode]]), which
    * sorts each (admission-bounded) micro-batch partition. */
  def framesFromParquetDir(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): Dataset[CdcFrame] = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[CdcFrame]
    spark.readStream
      .schema(Encoders.product[CdcFrame].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // X1 admission control
      .parquet(dir)
      .as[CdcFrame]
      .coalesce(1)
  }

  /** Frame stream from the DSv2 `graft-cdc` source (LSN offsets in
    * the checkpoint, `commit` publishes feedback, admission-capped —
    * the full-fidelity S1 replication-loop mapping; see
    * [[graft.sources.CdcFrameProvider]]). The source emits one
    * ordered partition per stream, so no coalesce is needed.
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

  /** Decode a parquet-directory frame feed with the ordering contract
    * enforced: one partition per stream, frames sorted by lsn within
    * each micro-batch, Relation frames snapshotted to `registryDir`
    * (survives JVM restart — [[CdcDecode.decode]]). */
  def decodeFileFeed(
      spark: SparkSession, dir: String, streamId: String,
      maxFilesPerTrigger: Int = 16,
      registryDir: Option[String] = None): Dataset[CdcEvent] =
    CdcDecode.decode(
      framesFromParquetDir(spark, dir, maxFilesPerTrigger), streamId,
      sortByLsn = true, registryDir = registryDir)

  /** One micro-batch of the sink side: append the published wire
    * events to the changelog (K1) and MERGE them into the state store
    * (K2). The two sinks are independent, so they run side by side
    * ([[graft.util.Jobs.concurrently]]), both reading one cached copy
    * of the batch.
    *
    * Decoded once: the decoder keeps per-stream state (relation
    * registry, v2 streamed-transaction buffer), so the batch must not
    * be decoded once per sink. Both sinks start on the still-empty
    * cache; Spark's block locking lets the first task that reaches a
    * partition decode and store it while the other sink's tasks wait
    * for that block and read it. (Materializing the cache with a
    * count before the fork gives the same guarantee for one more job
    * per batch, and measured no faster.)
    *
    * Exactly-once: Structured Streaming replays the last uncommitted
    * batch after a crash, so both effects are idempotent per
    * `batchId`:
    *  - K1 writes to a `batch=<id>` subdirectory with OVERWRITE (a
    *    replay rewrites the same files; plain append would duplicate
    *    every event of the replayed batch);
    *  - K2 skips the MERGE when the state store already holds a
    *    version >= batchId (the replayed MERGE already happened; it
    *    must ALSO not re-run because `latest` reads version N lazily
    *    while `write` overwrites the same directory — Spark deletes
    *    the target before the scan runs, corrupting recovery), and a
    *    version becomes visible only when `LATEST` is renamed onto it
    *    after its files are complete.
    * When either sink throws, the other's Spark jobs are cancelled and
    * awaited before the exception leaves this method, so the replay
    * never races a stale write into `batch=<id>` or `v=<id>`; it finds
    * each sink either done (K2 is then skipped, K1 rewritten) or not
    * visible, and redoes it. */
  def processBatch(batch: DataFrame, batchId: Long, base: DataFrame,
      cfg: SinkConfig, store: StateStore): Unit = {
    val published = cfg.publishedTables
      .map(ts => batch.filter(col("table").isin(ts.toSeq: _*)))
      .getOrElse(batch)
    val b = published.cache()
    try {
      Jobs.concurrently(
        // K1: changelog sink, partitioned by table so downstream scans
        // prune; repartition by (table, key) keeps a key's history in
        // one file per batch (ordering within partition).
        () => b.repartition(col("table"),
            coalesce(col("new_values")(cfg.keyCol), col("old_values")(cfg.keyCol)))
          .write.mode("overwrite").partitionBy("table")
          .parquet(s"${cfg.eventsOutDir}/batch=$batchId"),
        // K2: state MERGE, guarded against replay.
        () => if (store.latestVersion.forall(_ < batchId)) {
          val current = store.latest(b.sparkSession).getOrElse(base)
          store.write(Changelog.apply(current, b, cfg.table, cfg.keyCol, cfg.valueCols), batchId)
        })
      ()
    } finally { b.unpersist(); () }
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

  /** Console sink for ad-hoc observation (reference P3: the worker's
    * pretty-printer, cdc_consumer.py:58-68). */
  def consoleSink(events: Dataset[CdcEvent], numRows: Int = 20): StreamingQuery =
    CdcDecode.toWireDf(events)
      .writeStream.format("console")
      .option("numRows", numRows).option("truncate", false)
      .start()

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

  /** Versioned parquet state store with an atomically renamed LATEST
    * pointer: write v=<batch> and its schema, then point LATEST at it.
    * Replayed batches overwrite their own version — idempotent. */
  final class StateStore(dir: String) {
    private val fs = new java.io.File(dir)

    private def schemaFile(v: Long): java.nio.file.Path =
      new java.io.File(fs, s"v=$v/_schema.json").toPath

    def latestVersion: Option[Long] = {
      val f = new java.io.File(fs, "LATEST")
      if (f.exists()) Some(new String(java.nio.file.Files.readAllBytes(f.toPath)).trim.toLong)
      else None
    }

    /** The latest version, read with the schema `write` recorded, so
      * opening it runs no schema-inference job. (A version written
      * without a schema file falls back to inference.) */
    def latest(spark: SparkSession): Option[DataFrame] =
      latestVersion.map { v =>
        val f = schemaFile(v)
        val reader =
          if (!java.nio.file.Files.exists(f)) spark.read
          else spark.read.schema(DataType.fromJson(java.nio.file.Files.readString(f)).asInstanceOf[StructType])
        reader.parquet(s"$dir/v=$v")
      }

    def write(df: DataFrame, batchId: Long): Unit = {
      df.write.mode("overwrite").parquet(s"$dir/v=$batchId")
      // `_`-prefixed: parquet listing skips it
      java.nio.file.Files.writeString(schemaFile(batchId), df.schema.json)
      val tmp = new java.io.File(fs, s".LATEST.$batchId.tmp")
      java.nio.file.Files.write(tmp.toPath, batchId.toString.getBytes)
      java.nio.file.Files.move(tmp.toPath, new java.io.File(fs, "LATEST").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
