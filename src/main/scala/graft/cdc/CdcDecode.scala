package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}

/** One raw replication frame: `lsn` is the frame's commit-order
  * position (monotone per stream), `ingestMicros` the ingest
  * timestamp, `payload` the pgoutput wire bytes. */
final case class CdcFrame(lsn: Long, ingestMicros: Long, payload: Array[Byte])

/** Spark-side decode: raw pgoutput frames → `Dataset[CdcEvent]`.
  *
  * Parallelism model (SURVEY §3.1 / §4.2): one replication stream is
  * totally ordered, so frames of a stream live in ONE partition and
  * decode sequentially there (the registry is built from Relation
  * frames seen earlier in that partition); parallelism comes from
  * many streams/tables (one partition each) and from everything
  * downstream of decode, which is ordinary partitioned DataFrame
  * work. This fixes the reference's unordered worker pool (X2,
  * cdc_consumer.py:43-74) by construction: per-partition order is
  * preserved, and downstream stateful ops repartition by
  * (schema, table, key).
  *
  * Across micro-batches the decoder must remember Relation frames
  * from earlier batches, so registries live in a process-wide
  * concurrent map keyed by stream id (executor-local; on a multi-node
  * cluster pin a stream's partition with a deterministic partitioner,
  * or replay the Relation frame per batch as PG does on reconnect).
  */
object CdcDecode {

  implicit val cdcEventEncoder: Encoder[CdcEvent] = Encoders.product[CdcEvent]

  /** Registries that survive micro-batch boundaries (per-JVM). */
  private val registries =
    new java.util.concurrent.ConcurrentHashMap[String, PgOutput.Decoder]()

  private[cdc] def decoderFor(streamId: String): PgOutput.Decoder =
    registries.computeIfAbsent(streamId, _ => new PgOutput.Decoder)

  /** [[decoderFor]] with registry durability: a decoder created fresh
    * (JVM-cold restart) first replays the Relation frames snapshotted
    * under `registryDir`, so change events arriving before their
    * R-frame reappears are not silently dropped (the reference relies
    * on PG replaying R-frames on reconnect; a file/offset feed has no
    * such courtesy). */
  private[cdc] def decoderFor(streamId: String, registryDir: Option[String]): PgOutput.Decoder =
    registries.computeIfAbsent(streamId, _ => {
      val d = new PgOutput.Decoder
      registryDir.foreach { dir =>
        val p = java.nio.file.Paths.get(dir, streamId)
        if (java.nio.file.Files.isDirectory(p)) {
          // Files.list holds a directory fd until the stream is closed
          val stream = java.nio.file.Files.list(p)
          val sorted = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
          try {
            val files = stream.iterator()
            while (files.hasNext) sorted += files.next()
          } finally stream.close()
          sorted.sortBy(_.getFileName.toString).foreach { f =>
            d.decode(java.nio.file.Files.readAllBytes(f), 0L, 0L)
          }
        }
      }
      d
    })

  /** Snapshot one R-frame's wire bytes (idempotent: lsn-named file,
    * overwritten on replay). Zero-padded name keeps lexicographic
    * replay order = lsn order. */
  private def backupRFrame(registryDir: String, streamId: String, f: CdcFrame): Unit = {
    val dir = java.nio.file.Paths.get(registryDir, streamId)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(f"r_${f.lsn}%020d.bin"), f.payload)
  }

  /** Drop state for a stream (tests / stream teardown). */
  def resetStream(streamId: String): Unit = registries.remove(streamId)

  /** Wire-derived Spark schema for a decoded relation: the stream's
    * registry (R-frame oids/typmods + 'Y' custom-type names) through
    * [[PgTypes.schemaFor]]. None until the relation's R frame has
    * decoded — run the decode action first; the registry is decode
    * metadata, a few rows per table, so this driver-side peek is free
    * at any scale. Read-only: never creates a decoder. */
  def wireSchemaFor(streamId: String, relationId: Int): Option[org.apache.spark.sql.types.StructType] =
    Option(registries.get(streamId)).flatMap(d =>
      d.relationRegistry.get(relationId).map(PgTypes.schemaFor(_, d.typeRegistry)))

  /** Decode a dataset of frames. `dropMalformed=true` skips frames
    * that throw [[PgOutput.MalformedFrame]] (PERMISSIVE-style);
    * otherwise the task fails (FAILFAST). `sortByLsn` restores the
    * stream's total order within each partition before decoding, for
    * frames read from plain parquet (`spark.read.parquet` lists files
    * in name order, not lsn order; a Relation frame must decode before
    * its changes) — ScaleStress's `cdc_decode_throughput` arm reads
    * its feed that way. The sort buffers the whole partition. The
    * `graft-cdc` source already emits frames in lsn order.
    * `registryDir` persists Relation frames for JVM-restart recovery
    * (see [[decoderFor]]). */
  def decode(
      frames: Dataset[CdcFrame],
      streamId: String,
      dropMalformed: Boolean = false,
      sortByLsn: Boolean = false,
      registryDir: Option[String] = None): Dataset[CdcEvent] =
    frames.mapPartitions { it =>
      val decoder = decoderFor(streamId, registryDir)
      val ordered = if (sortByLsn) it.toArray.sortBy(_.lsn).iterator else it
      ordered.flatMap { f =>
        if (registryDir.isDefined && f.payload != null &&
            f.payload.nonEmpty && f.payload(0) == 'R') {
          // An R frame inside a v2 stream segment carries the Int32
          // xid prefix; snapshot it STRIPPED (type byte + body), or a
          // fresh decoder — which replays outside any segment — would
          // parse the xid as the relation OID and register garbage,
          // silently dropping every later change for the real table.
          val toBackup =
            if (decoder.inStreamSegment && f.payload.length >= 5)
              f.payload(0) +: f.payload.drop(5)
            else f.payload
          backupRFrame(registryDir.get, streamId, f.copy(payload = toBackup))
        }
        try decoder.decodeAll(f.payload, f.lsn, f.ingestMicros)
        catch { case _: PgOutput.MalformedFrame if dropMalformed => Seq.empty }
      }
    }

  /** Pure driver-side decode of an ordered frame sequence (tests,
    * fixtures, foreachBatch micro-batches that fit in memory). */
  def decodeSeq(frames: Seq[CdcFrame], dropMalformed: Boolean = false): Seq[CdcEvent] = {
    val decoder = new PgOutput.Decoder
    frames.flatMap { f =>
      try decoder.decodeAll(f.payload, f.lsn, f.ingestMicros)
      catch { case _: PgOutput.MalformedFrame if dropMalformed => Seq.empty }
    }
  }

  /** Events as a DataFrame in the wire-envelope column layout
    * (FIXTURES.md §A.2): snake_case names, timestamp column. */
  def toWireDf(events: Dataset[CdcEvent]): DataFrame = {
    import org.apache.spark.sql.functions._
    events.toDF()
      .select(
        col("operation"), col("schema"), col("table"), col("columns"),
        col("oldValues").as("old_values"), col("newValues").as("new_values"),
        col("lsn"),
        timestamp_micros(col("timestampMicros")).as("timestamp"))
  }

  /** Fixture helper: frames as a one-partition Dataset (a replication
    * stream is a single ordered partition by construction). */
  def framesDataset(spark: SparkSession, frames: Seq[CdcFrame]): Dataset[CdcFrame] = {
    implicit val enc: Encoder[CdcFrame] = Encoders.product[CdcFrame]
    spark.createDataset(frames).coalesce(1)
  }
}
