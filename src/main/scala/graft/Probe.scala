package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.util.{Session, StageStats}

/** Per-query measurement tool, run on the session Bench runs.
  *
  * Usage: `sbt "runMain graft.Probe <mode> [query-substring ...]"`
  * (no substring = every query), against the sf dir `SPARK_GRAFT_SF_DIR`
  * names (required) on `SPARK_GRAFT_CPUS` cores. A conf A/B is a `-Dspark.<k>=<v>` JVM
  * option (see [[graft.util.Session]]). Modes:
  *  - `explain`: the formatted physical plan, not executed — pushdown
  *    reached the scan? dims broadcast? one Exchange per shared
  *    subtree? codegen spans wide?
  *  - `executed`: the post-AQE plan after one run.
  *  - `reps`: [[Reps]] runs per query, noop sink, isolated and GC'd
  *    between runs. Each prints wall, GC, jobs, stages, tasks and
  *    summed task time; rep 1 also prints its plan-build time and
  *    Catalyst phases. Rep 1 carries analysis, codegen and AQE
  *    planning; later reps are steady state. A composite whose wall is
  *    park-dominated is bounded by sequential jobs × per-stage
  *    latency, not task work — the counts say so directly. Stages
  *    whose slowest task took ≥ 200 ms print as they complete.
  *  - `sample`: the hottest stack signatures of the driver thread
  *    while the DataFrame is constructed (eager per-step analysis,
  *    checkpoint jobs), then of the executor task threads while it
  *    runs.
  *
  * Each mode prints its report as it goes and returns it, so a spec
  * can drive it on a test session. */
object Probe {

  val Reps = 3

  final case class Rep(query: String, rep: Int, wallS: Double, gcMs: Long,
      jobs: Int, stages: Int, tasks: Int, taskMs: Long)

  def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, String)] =
    plans(spark, sfDir, names)(_.queryExecution.explainString(ExplainMode.fromString("formatted")))

  def executed(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, String)] =
    plans(spark, sfDir, names) { df =>
      df.collect() // run it, so AQE finalizes the plan
      try df.queryExecution.executedPlan.toString finally Session.isolate(spark)
    }

  private def plans(spark: SparkSession, sfDir: String, names: Seq[String])(
      render: DataFrame => String): Seq[(String, String)] =
    SparkEntry.select(names).map { case (name, fn) =>
      val plan = render(fn(spark, sfDir))
      println(s"===================== $name =====================\n$plan")
      name -> plan
    }

  def reps(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Rep] = {
    val stats = new StageStats(printFromMs = 200)
    spark.sparkContext.addSparkListener(stats)
    try SparkEntry.select(names).flatMap { case (name, fn) =>
      val runs = (1 to Reps).map { i =>
        System.err.println(s"[probe] --- $name rep$i ---")
        val (g0, m) = (gcMs(), stats.mark)
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          if (i == 1) {
            df.queryExecution.executedPlan // analysis through physical planning
            val phases = df.queryExecution.tracker.phases
              .map { case (p, s) => s"$p=${s.endTimeMs - s.startTimeMs}ms" }.mkString(" ")
            System.err.println(f"[probe]   $name plan-build ${(System.nanoTime() - t0) / 1e9}%5.2f s  phases: $phases")
          }
          df.write.mode("overwrite").format("noop").save()
        } catch { case e: Throwable => System.err.println(s"[probe] $name rep$i FAILED: ${e.getMessage}") }
        val wall = (System.nanoTime() - t0) / 1e9
        val gc = gcMs() - g0
        stats.settle()
        val w = stats.since(m)
        System.err.println(f"[probe]   $name rep$i jobs=${w.jobs} stages=${w.stages} tasks=${w.tasks} " +
          f"task_time=${w.taskTimeMs / 1e3}%.1fs")
        Session.isolate(spark)
        System.gc()
        Rep(name, i, wall, gc, w.jobs, w.stages, w.tasks, w.taskTimeMs)
      }
      println(f"[probe] $name%-36s ${runs.map(r => f"${r.wallS}%6.2f(gc${r.gcMs}%5dms)").mkString(" ")}  cc[$codeCache]")
      runs
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  /** Per query: (construction signatures, execution signatures), each
    * hottest first with its sample count. */
  def sample(spark: SparkSession, sfDir: String, names: Seq[String])
      : Seq[(String, Seq[(String, Int)], Seq[(String, Int)])] =
    SparkEntry.select(names).map { case (name, fn) =>
      fn(spark, sfDir).queryExecution.executedPlan // warm: classloading and JIT drop out
      val driver = Thread.currentThread()
      val t0 = System.nanoTime()
      val (df, build) = sampled(_ eq driver) {
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan
        df
      }
      val buildS = (System.nanoTime() - t0) / 1e9
      val (_, run) = sampled(_.getName.startsWith("Executor task launch")) {
        df.write.mode("overwrite").format("noop").save()
      }
      Session.isolate(spark)
      for ((what, tally) <- Seq(f"construction $buildS%.2f s, driver" -> build, "execution, task" -> run)) {
        println(s"[sample] $name $what-thread signatures, hottest first:")
        tally.take(30).foreach { case (k, v) => println(f"  $v%6d  $k") }
      }
      (name, build, run)
    }

  /** Run `body` while one daemon thread samples the stacks of the
    * threads `keep` accepts every 20 ms. A signature is the leaf frame
    * plus the first three Spark SQL or graft frames under it. */
  private def sampled[A](keep: Thread => Boolean)(body: => A): (A, Seq[(String, Int)]) = {
    val tally = new ConcurrentHashMap[String, Integer]()
    @volatile var on = true
    val sampler = new Thread(() => while (on) {
      Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
        if (keep(th) && st.nonEmpty) tally.merge(signature(st), 1, (a: Integer, b: Integer) => a + b)
      }
      Thread.sleep(20)
    })
    sampler.setDaemon(true)
    sampler.start()
    val out = try body finally { on = false; sampler.join() }
    (out, tally.asScala.toSeq.map { case (k, v) => k -> v.intValue }.sortBy(-_._2))
  }

  private def signature(st: Array[StackTraceElement]): String = {
    def frame(f: StackTraceElement) = s"${f.getClassName.split('.').last}.${f.getMethodName}"
    val owners = st.iterator.drop(1)
      .filter(f => f.getClassName.startsWith("org.apache.spark.sql") || f.getClassName.startsWith("graft"))
      .take(3).map(frame)
    (Iterator(frame(st.head)) ++ owners).mkString(" < ")
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** JIT code-cache occupancy per segment, used/max MB. */
  private def codeCache: String =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(p => s"${p.getName.replace("CodeHeap '", "").replace("'", "").replace(" nmethods", "")}=" +
        s"${p.getUsage.getUsed / 1048576}/${p.getUsage.getMax / 1048576}M")
      .mkString(" ")

  private val modes: Map[String, (SparkSession, String, Seq[String]) => Any] = Map(
    "explain" -> explain, "executed" -> executed, "reps" -> reps, "sample" -> sample)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(modes.get).getOrElse(sys.error(
      s"usage: graft.Probe <${modes.keys.toSeq.sorted.mkString("|")}> [query-substring ...]"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the sf dir to probe"))
    val spark = Session("graft-probe", fastScratch = true)
    Session.warmUp(spark)
    try mode(spark, sfDir, args.toSeq.drop(1)) finally spark.stop()
  }
}
