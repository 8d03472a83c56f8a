package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** What one workload run measured. `e2e` holds the end-to-end
  * metrics, `layers` the traced run's per-layer metrics, `info` the
  * workload's own named figures (printed, not gated). */
final case class Outcome(
    attempted: Long, failed: Long,
    e2e: Map[String, Metric], layers: Map[String, Metric], info: Map[String, Double])

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession,
    val work: Path,
    val out: Path,
    val benchDir: Path,
    val workload: String,
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val record: Boolean,
    val sessionReadyS: Double) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** Benchmark entry point (launched by `run.py`, which builds the
  * classpath). Arguments: `--workload <name> --seed <n> --seconds <n>
  * --trace <0|1> --work <dir> --out <dir> --bench-dir <dir>`, plus
  * `--record` to (re)write the batch workloads' recorded digests.
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced, per-layer
  * metrics traced). The line before it carries the workload's own
  * named figures, `failure_ratio` among them.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_stream" -> CdcWorkloads.stream,
    "curation_composites" -> BatchWorkloads.curation)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the same codegen cache graft.Bench runs the queries with
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = new Ctx(spark, work, Paths.get(opts("out")).toAbsolutePath,
      Paths.get(opts("bench-dir")).toAbsolutePath, workload, opts("seed").toLong,
      opts("seconds").toInt, opts.get("trace").contains("1"), args.contains("--record"),
      (System.currentTimeMillis() - jvmStartMs) / 1e3)

    val o = try run(ctx) finally spark.stop()
    val metrics = if (ctx.trace) o.layers else o.e2e
    if (ctx.trace) {
      def v(k: String) = o.layers(k).value
      ctx.log(f"trace: wall ${v("trace.wall_ms")}%.0f ms, residual not covered by spans ${v("trace.residual_ms")}%.1f ms " +
        f"(${100 * v("trace.residual_share")}%.2f%%); overhead (traced - untraced): " +
        Layers.EndToEnd.map(_._1).filter(n => o.layers.contains(s"trace.overhead_$n"))
          .map(n => f"$n ${v(s"trace.overhead_$n")}%+.1f").mkString(", "))
    }
    val failureRatio = if (o.attempted > 0) o.failed.toDouble / o.attempted else 1.0
    val info = o.info ++ Map(
      "failure_ratio" -> failureRatio,
      "peak_rss_mb" -> Proc.peakRssMb,
      "setup_s" -> o.e2e("setup_s").value,
      "nproc" -> cores.toDouble,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0)
    println(Json.obj(Seq("workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "trace" -> (if (ctx.trace) "1" else "0")) ++
      info.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    println(Json.obj(Seq(
      "correct" -> (o.failed == 0 && o.attempted > 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      }))))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
