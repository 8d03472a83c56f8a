package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory of the `graft` mains, plus the per-query
  * steps they share.
  *
  * Every main runs the session Bench runs: `local[cpus]`, one shuffle
  * partition per core, a 5000-entry codegen class cache, UTC, no UI
  * and the graft SQL functions. A caller adds its own extras on top,
  * and fast shuffle scratch ([[LocalScratch]]) when it asks for it.
  *
  * A key that a `spark.*` JVM system property already gives is left
  * alone (Spark reads those properties itself), so a conf A/B needs
  * no code and no env knob:
  * `sbt 'set javaOptions += "-Dspark.<k>=<v>"' "runMain graft.Probe reps q5"`.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The conf the factory sets, as a pure value: Bench's session on
    * `cpus` cores plus `extras` (an extra replaces a default of the
    * same key), minus every key `props` already gives.
    *
    * The codegen class cache is sized for this suite's plan volume.
    * The default 100 entries thrash INSIDE one composite query (the
    * incremental media report alone carries hundreds of distinct
    * codegen units): task-thread sampling showed executor threads
    * serialized on CodeGenerator.compile, and one probed rep hit 43 s
    * re-compiling units the same query had already compiled. 10000
    * entries measured 14.7 → 8.5 s warm on that query (r21,
    * OPTIMIZATION_r21.md). Compiled-class caching is JVM-level — the
    * same lever applies to long-lived executors at any scale. */
  def conf(cpus: Int, extras: Seq[(String, String)] = Nil,
      props: collection.Map[String, String] = sys.props): Map[String, String] =
    (Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
    ) ++ extras).toMap.filter { case (k, _) => !props.contains(k) }

  /** Build (or join) the session named `app` with [[conf]] for
    * [[cpus]] cores, and register the graft SQL functions on it. */
  def apply(app: String, extras: Seq[(String, String)] = Nil,
      fastScratch: Boolean = false, logLevel: String = "ERROR"): SparkSession = {
    val scratch = if (fastScratch) LocalScratch.conf() else Nil
    val builder = SparkSession.builder()
    conf(cpus, ("spark.app.name" -> app) +: (scratch ++ extras))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** JVM warm-up, to run OUTSIDE every timer: Janino/codegen
    * initialization, the noop-datasource lookup and the shuffle
    * machinery are one-time JVM costs that otherwise land on the
    * first query timed (measured at sf0.1: cdc_decode_events 3.4 s as
    * Bench's first query vs 0.4 s for the SAME decode pipeline once
    * warm). A tiny aggregate exercises all three paths. It never
    * fails its caller. */
  def warmUp(spark: SparkSession): Unit =
    try {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      spark.range(0, 100000).toDF("i").repartition(4)
        .groupBy(pmod(col("i"), lit(7)).as("k")).count()
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }

  /** Isolate the next query from the last one, outside the timers.
    * `clearCache()` only empties the CacheManager and starts block
    * removal asynchronously: eager localCheckpoints (simhash, CC and
    * fingerprint paths) pin RDD-level blocks it never touches, and a
    * query's eviction debt would otherwise land on the NEXT timer
    * (measured: a 3.5 s query attributed 100+ s). So the persisted
    * RDDs are unpersisted too, blocking. */
  def isolate(spark: SparkSession): Unit = {
    val cached = spark.sparkContext.getPersistentRDDs.values
    spark.catalog.clearCache()
    cached.foreach(_.unpersist(blocking = true))
  }

  /** JSON string literal: escapes the quote, the backslash and ALL
    * control characters (< 0x20) — a tab or CR in a query's SQL text
    * or error message would otherwise break the reader's parse. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
