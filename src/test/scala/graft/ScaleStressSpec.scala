package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** `graft.ScaleStress`: its arm table and filter, a scale-1 smoke run
  * against the oracle-gated query twins, and the results-file merge.
  * No test writes the tracked `scale_stress.json`.
  *
  * `run` isolates every arm with [[graft.util.Session.isolate]], which
  * unpersists every RDD of the shared test session. That is safe: the
  * suites run one after another in one forked JVM, and no suite keeps
  * a `localCheckpoint` alive across suites. */
class ScaleStressSpec extends SparkSpec {
  private val dir = sf("sf0.001")
  private val json = new ObjectMapper()

  private def withTempDir[A](body: Path => A): A = {
    val root = Files.createTempDirectory("graft-stress-spec")
    try body(root)
    finally Files.walk(root).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def entries(f: Path): Seq[(String, Int, Long)] =
    json.readTree(f.toFile).elements.asScala.toSeq
      .map(n => (n.get("op").asText, n.get("scale").asInt, n.get("rows").asLong))

  private def line(op: String, scale: Int, rows: Long) =
    s"""{"op":"$op","scale":$scale,"sec":1.50,"rows":$rows,"tasks":3}"""

  test("arm names are unique") {
    val names = ScaleStress.armNames(spark)
    assert(names.nonEmpty)
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
  }

  test("a filter substring that matches no arm is refused before any feed is written") {
    withTempDir { root =>
      val e = intercept[IllegalArgumentException](
        ScaleStress.run(spark, dir, Seq(1), Seq("span_dedup", "no_such_arm"), root.toString))
      assert(e.getMessage.contains("no_such_arm"), e.getMessage)
      assert(Files.list(root).count() == 0)
    }
  }

  test("at 1x four arms count exactly the rows of their query twins") {
    // amplifyDocs(_, 1) is the identity on (doc_id, text), and each arm
    // runs its twin's parameters
    val twins = Seq(
      "minhash_near_dup_pairs" -> "p_minhash_near_dup_pairs",
      "dup_groups_cc" -> "p_dup_groups",
      "span_dedup" -> "p_span_dedup",
      "group_safe_split" -> "p_group_safe_split")
    val expected = twins.map { case (arm, q) => arm -> SparkEntry.queries(q)(spark, dir).count() }
    val lines = withTempDir(root => ScaleStress.run(spark, dir, Seq(1), twins.map(_._1), root.toString))
    val measured = lines.map(l => json.readTree(l)).map(n => n.get("op").asText -> n.get("rows").asLong)
    assert(measured == expected)
    assert(expected.forall(_._2 > 0), expected)
  }

  test("mergeResults replaces a re-measured (op, scale) and keeps the rest in file order") {
    withTempDir { root =>
      val f = root.resolve("results.json")
      Files.writeString(f, Seq(line("a", 1, 1), line("b", 1, 2), line("a", 2, 3)).mkString("[", ",", "]"))
      ScaleStress.mergeResults(Seq(line("a", 1, 10), line("c", 1, 4)), f)
      assert(entries(f) == Seq(("b", 1, 2L), ("a", 2, 3L), ("a", 1, 10L), ("c", 1, 4L)))
      assert(Files.readString(f).contains(""""sec":1.50"""), "a number lost its written form")
    }
  }

  test("an unparseable results file falls back to the fresh lines and says so") {
    withTempDir { root =>
      val f = root.resolve("results.json")
      Files.writeString(f, """[{"op":"a","scale":1,""")
      val err = new ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new PrintStream(err, true))
      try ScaleStress.mergeResults(Seq(line("c", 1, 4)), f)
      finally System.setErr(stderr)
      assert(entries(f) == Seq(("c", 1, 4L)))
      assert(err.toString.contains("unparseable"), err.toString)
    }
  }

  test("merging into a copy of the tracked scale_stress.json keeps every entry") {
    val tracked = Paths.get("scale_stress.json")
    withTempDir { root =>
      val f = root.resolve("scale_stress.json")
      Files.copy(tracked, f)
      val before = entries(f)
      assert(before.size > 100, before.size)
      ScaleStress.mergeResults(Nil, f)
      assert(Files.readString(f) == Files.readString(tracked))
      val (op, scale, _) = before.head
      ScaleStress.mergeResults(Seq(line(op, scale, 7)), f)
      assert(entries(f) == before.tail :+ ((op, scale, 7L)))
    }
  }
}
