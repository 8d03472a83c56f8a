package graft

import graft.util.Session
import graft.util.Session.jsonString

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query wall
  * seconds. A failing query is reported in "errors" and contributes
  * -1.0 to "queries" (never a fake timing — round-1 swallowed
  * exceptions into plausible-looking numbers). The JSON line goes to
  * stdout unprefixed (build.sbt sets `run / outputStrategy :=
  * StdoutOutput` so sbt's [info] logger never wraps it) and is also
  * written to bench_out.json as a belt-and-braces parse path.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench", fastScratch = true)
    Session.warmUp(spark)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Optional args = query-name substrings to run (iteration aid:
    // `runMain graft.Bench p_ngram` times one query family). The
    // driver passes no args → full suite, unchanged.
    val results = SparkEntry.select(args.toSeq).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $name%-32s ${elapsed}%8.2f s")
      // Isolate queries from each other — all OUTSIDE the timers —
      // then force a full GC so each timer starts from a quiet heap.
      Session.isolate(spark)
      System.gc()
      name -> (if (ok) elapsed else -1.0)
    }
    val es = errors.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // The stdout line must stay SHORT: the driver captures only the
    // last ~2000 chars of output (plus sbt's trailing "[success]"
    // line), and a full per-query map at 90+ queries is ~2.5k chars —
    // rounds 6–7 overflowed the window and the driver recorded
    // `parsed: null`. So the line carries the total, every error, and
    // only the SLOWEST queries that fit a 1600-char budget; the
    // complete full-precision map goes to bench_out.json.
    def entry(k: String, v: Double): String = f"${jsonString(k)}:$v%.3f"
    val desc = results.sortBy { case (_, v) => -v }
    val baseLen =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"queries_omitted":000,"queries":{},"errors":$es,"sf":${jsonString(sfDir)}}""".length
    var budget = 1600 - baseLen
    val shown = scala.collection.mutable.ArrayBuffer[String]()
    desc.foreach { case (k, v) =>
      val e = entry(k, v)
      if (budget - (e.length + 1) >= 0) { shown += e; budget -= e.length + 1 }
    }
    val line =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"queries_omitted":${results.size - shown.size},"queries":${shown.mkString("{", ",", "}")},"errors":$es,"sf":${jsonString(sfDir)}}"""
    println(line)
    val fullQs = results.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"errors":$es,"sf":${jsonString(sfDir)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), fullLine)
    spark.stop()
  }
}
