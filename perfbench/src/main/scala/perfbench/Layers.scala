package perfbench

import org.apache.spark.sql.SparkSession

/** The metric names every run reports: end-to-end ones untraced,
  * per-layer ones traced. A per-layer metric whose layer is not on a
  * workload's path reads 0 there. */
object Layers {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_p99_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.plan_ms" -> "ms",
    "sources.read_ms" -> "ms",
    "sources.read_bytes_per_admitted_byte" -> "ratio",
    "sources.backlog_frames" -> "count",
    "cdc.decode_ms" -> "ms",
    "cdc.decode_events_per_s" -> "1/s",
    "cdc.merge_build_ms" -> "ms",
    "cdc.merge_exec_ms" -> "ms",
    "streaming.changelog_write_ms" -> "ms",
    "streaming.state_write_ms" -> "ms",
    "streaming.state_bytes_per_changed_key" -> "bytes",
    "streaming.batch_ms" -> "ms",
    "streaming.trigger_overhead_ms" -> "ms",
    "queries.build_ms" -> "ms",
    "queries.eager_jobs" -> "count",
    "queries.plan_ms" -> "ms",
    "queries.exec_ms" -> "ms",
    "operators.minhash_pairs_ms" -> "ms",
    "operators.simhash_pairs_ms" -> "ms",
    "functions.kernel_rows_per_s" -> "1/s",
    "spark.jobs" -> "count",
    "spark.codegen_ms" -> "ms",
    "spark.tasks" -> "count",
    "spark.task_ms" -> "ms",
    "spark.task_ms_max" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "spark.idle_core_ms" -> "ms",
    "trace.wall_ms" -> "ms",
    "trace.residual_ms" -> "ms",
    "trace.residual_share" -> "ratio",
    "trace.overhead_throughput_per_s" -> "1/s",
    "trace.overhead_latency_p50_ms" -> "ms",
    "trace.overhead_latency_p99_ms" -> "ms",
    "gen.late_ms_max" -> "ms",
    "gen.backlog_end_frames" -> "count")

  def e2e(values: Map[String, Double]): Map[String, Metric] =
    EndToEnd.map { case (n, u) => n -> Metric(values(n), u) }.toMap

  def perLayer(values: Map[String, Double]): Map[String, Metric] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (n, u) => n -> Metric(values.getOrElse(n, 0.0), u) }.toMap
  }

  /** Tracing overhead: traced minus untraced, per measured end-to-end metric. */
  def overhead(traced: Map[String, Double], untraced: Map[String, Double]): Map[String, Double] =
    Seq("throughput_per_s", "latency_p50_ms", "latency_p99_ms")
      .map(n => s"trace.overhead_$n" -> (traced(n) - untraced(n))).toMap

  /** Engine-level figures for a traced window `[fromMs, toMs]`, from
    * the benchmark's listener and Spark's codegen counters. */
  def engine(spark: SparkSession, activity: SparkActivity, fromMs: Long, toMs: Long,
      codegenMs: Long): Map[String, Double] = {
    // the listener bus is asynchronous: let it drain before summing
    Thread.sleep(300)
    val tasks = activity.tasksIn(fromMs, toMs)
    val taskMs = tasks.map(_.runMs).sum.toDouble
    val cores = spark.sparkContext.defaultParallelism
    Map(
      "spark.jobs" -> activity.jobsIn(fromMs, toMs).toDouble,
      "spark.codegen_ms" -> codegenMs.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_ms" -> taskMs,
      "spark.task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.runMs).max.toDouble),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "spark.idle_core_ms" -> math.max(0.0, (toMs - fromMs).toDouble * cores - taskMs))
  }

  /** Codegen compile time so far, ms (Spark's codegen counter). */
  def codegenMs: Long = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L
}
