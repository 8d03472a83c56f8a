package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.GraftFunctions
import graft.operators.Dedup

/** The batch workload, a list of named operations. One
  * pass runs every operation once, as graft.Bench does: build the
  * DataFrame (construction, with any eager jobs), then a noop write
  * (planning and execution). Never `.count()`, which would let
  * Catalyst prune columns a real sink computes.
  *
  * Set-up ends with one untimed pass that also takes each output's
  * order-independent digest and compares it with the digest recorded
  * for the operation (`digests.txt`): a throw or a mismatch is a
  * failed operation. The timed passes follow, repeated until the run
  * has measured `--seconds` and made at least [[MinPasses]].
  */
object BatchWorkloads {

  final case class Op(name: String, build: () => DataFrame)

  /** Documents and embeddings for curation_composites: between the
    * sf0.001 (500/500) and sf0.01 test tables. The two composites
    * with the most jobs per pass; their wall is mostly driver-side
    * construction, which barely grows with the table size. */
  val CurationDocs = 1000
  val CurationVecs = 500
  val CurationQueries = Seq("p_curation_v3", "p_incremental_curation")

  /** Amplification of the curation corpus for the traced operator and
    * kernel timings. */
  val DedupScale = 20

  /** Timed passes run until `--seconds` have been measured, and at
    * least this many, so every run reports a median of several. */
  val MinPasses = 2

  private val DigestFile = "digests.txt"

  private def cleanup(spark: SparkSession): Unit = {
    val cached = spark.sparkContext.getPersistentRDDs.values
    spark.catalog.clearCache()
    cached.foreach(_.unpersist(blocking = true))
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Median set-up time of `make` over three fresh directories; returns the last. */
  private def setUp(ctx: Ctx, make: String => Unit): (Double, String) = {
    val runs = (0 until 3).map { i =>
      val d = ctx.dir(s"data$i")
      val t = System.nanoTime()
      make(d)
      ((System.nanoTime() - t) / 1e9, d)
    }
    ctx.log(f"set-up: session ${ctx.sessionReadyS}%.2f s, data ${runs.map(r => f"${r._1}%.2f").mkString("/")} s")
    (Stats.median(runs.map(_._1)), runs.last._2)
  }

  /** Untimed digest pass: (attempted, failed). In `--record` mode the
    * digests are written instead of checked. */
  private def digestPass(ctx: Ctx, ops: Seq[Op]): (Long, Long) = {
    val path = ctx.benchDir.resolve(DigestFile)
    val recorded = Digest.load(path)
    val got = ops.map { op =>
      val d = try Some(Digest.of(op.build())) catch {
        case e: Throwable =>
          ctx.log(s"${op.name} threw: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          None
      }
      cleanup(ctx.spark)
      op.name -> d
    }
    if (ctx.record) {
      val mine = got.collect { case (n, Some(d)) => (ctx.workload, n) -> d }.toMap
      Digest.save(path, "workload operation rows xxhash64-sum; recorded by `run.py --record`",
        recorded ++ mine)
      ctx.log(s"recorded ${mine.size} digests to $path")
    }
    val failed = got.count {
      case (_, None) => true
      case (n, Some(d)) =>
        val want = recorded.get((ctx.workload, n))
        val ok = ctx.record || want.contains(d)
        if (!ok) ctx.log(s"${n}: digest ${d.rows} rows ${d.hex}, recorded ${want.map(w => s"${w.rows} rows ${w.hex}").getOrElse("none")}")
        !ok
    }
    (ops.size.toLong, failed.toLong)
  }

  /** One untraced pass: wall ms per operation. */
  private def pass(ctx: Ctx, ops: Seq[Op]): Seq[Double] = ops.map { op =>
    val t = System.nanoTime()
    noop(op.build())
    val ms = (System.nanoTime() - t) / 1e6
    cleanup(ctx.spark)
    ms
  }

  private def figures(opMs: Seq[Double], nOps: Int): Map[String, Double] = {
    val passes = opMs.grouped(nOps).map(_.sum).toSeq
    Map(
      "throughput_per_s" -> nOps * 1000.0 / Stats.median(passes),
      "latency_p50_ms" -> Stats.quantile(opMs, 0.5),
      "latency_p99_ms" -> Stats.quantile(opMs, 0.99))
  }

  /** One pass with spans: build (and the jobs it starts), plan, noop write. */
  private def tracedPass(ctx: Ctx, ops: Seq[Op], untraced: Map[String, Double], sp: Spans): Map[String, Double] = {
    val spark = ctx.spark
    val activity = new SparkActivity
    spark.sparkContext.addSparkListener(activity)
    val cg0 = Layers.codegenMs
    val from = System.currentTimeMillis()
    var eagerJobs = 0
    val opMs = ops.map { op =>
      var b0, b1 = 0L
      val t = System.nanoTime()
      sp(op.name) {
        b0 = System.currentTimeMillis()
        val df = sp("queries.build") { op.build() }
        b1 = System.currentTimeMillis()
        sp("queries.plan") { df.queryExecution.executedPlan }
        sp("queries.exec") { noop(df) }
      }
      val ms = (System.nanoTime() - t) / 1e6
      Thread.sleep(300) // the listener bus drains before the job count
      eagerJobs += activity.jobsIn(b0, b1)
      cleanup(spark)
      ms
    }
    val to = System.currentTimeMillis()
    val wall = opMs.sum
    val explained = Seq("queries.build", "queries.plan", "queries.exec").map(sp.total).sum
    Map(
      "queries.build_ms" -> sp.total("queries.build"),
      "queries.eager_jobs" -> eagerJobs.toDouble,
      "queries.plan_ms" -> sp.total("queries.plan"),
      "queries.exec_ms" -> sp.total("queries.exec"),
      "trace.wall_ms" -> wall,
      "trace.residual_ms" -> (wall - explained),
      "trace.residual_share" -> (wall - explained) / wall
    ) ++ Layers.overhead(figures(opMs, ops.size), untraced) ++
      Layers.engine(spark, activity, from, to, Layers.codegenMs - cg0)
  }

  /** The operators and kernels under the composites, timed on the corpus
    * amplified with ScaleStress's near-dup injection: task-bound work
    * the composites' driver-side construction hides. The two Dedup
    * outputs are digested too: (attempted, failed, metrics). */
  private def tracedOperators(ctx: Ctx, dir: String, sp: Spans): (Long, Long, Map[String, Double]) = {
    val spark = ctx.spark
    val amplified = s"$dir/amplified.parquet"
    Corpus.seededOrder(graft.ScaleStress.amplifyDocs(spark.read.parquet(s"$dir/documents.parquet"), DedupScale),
      "doc_id", ctx.seed).write.mode("overwrite").parquet(amplified)
    def docs = spark.read.parquet(amplified)
    val ops = Seq(
      Op("minhash_pairs", () => Dedup.nearDupPairsShingled(docs, "doc_id", "text",
        n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)),
      Op("simhash_pairs", () => Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)))
    ops.foreach { op =>
      sp(op.name)(noop(op.build()))
      cleanup(spark)
    }
    sp("functions.kernel") {
      val toks = split(col("text"), " ")
      noop(docs.select(
        size(GraftFunctions.shingleHashes64(toks, 3)).as("n_hashes"),
        GraftFunctions.minhashSig(GraftFunctions.distinctShingles(toks, 3), 12).as("sig")))
    }
    val (attempted, failed) = digestPass(ctx, ops)
    (attempted, failed, Map(
      "operators.minhash_pairs_ms" -> sp.total("minhash_pairs"),
      "operators.simhash_pairs_ms" -> sp.total("simhash_pairs"),
      "functions.kernel_rows_per_s" -> docs.count() * 1000.0 / sp.total("functions.kernel")))
  }

  // ------------------------------------------------- curation_composites

  val curation: Ctx => Outcome = ctx => {
    val spark = ctx.spark
    val (genS, dir) = setUp(ctx, d => Corpus.write(spark, d, CurationDocs, CurationVecs, ctx.seed))
    val queries = SparkEntry.queries
    val ops = CurationQueries.map(n => Op(n, () => queries(n)(spark, dir)))

    val tw = System.nanoTime()
    val (attempted, failed) = digestPass(ctx, ops)
    val setupS = ctx.sessionReadyS + genS + (System.nanoTime() - tw) / 1e9

    val t0 = System.nanoTime()
    val opMs = scala.collection.mutable.ArrayBuffer[Double]()
    while (opMs.size < MinPasses * ops.size || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      opMs ++= pass(ctx, ops)
    val untraced = figures(opMs.toSeq, ops.size)
    val passS = opMs.grouped(ops.size).map(_.sum / 1e3).toSeq
    ctx.log(f"${passS.size} passes, median ${Stats.median(passS)}%.2f s: " +
      ops.map(_.name).zip(opMs.take(ops.size)).map { case (n, ms) => f"$n ${ms / 1e3}%.2f s" }.mkString(", "))

    val (extraAttempted, extraFailed, layers) = if (!ctx.trace) (0L, 0L, Map.empty[String, Double]) else {
      val sp = new Spans
      val queryLayers = tracedPass(ctx, ops, untraced, sp)
      val (a, f, operatorLayers) = tracedOperators(ctx, dir, sp)
      sp.writeJson(ctx.out.resolve(s"spans_${ctx.workload}_seed${ctx.seed}.json"))
      (a, f, queryLayers ++ operatorLayers)
    }
    Outcome(attempted + extraAttempted, failed + extraFailed,
      Layers.e2e(untraced ++ Map("setup_s" -> setupS)), Layers.perLayer(layers),
      Map("query_wall_s" -> Stats.median(passS), "passes" -> passS.size.toDouble))
  }
}
