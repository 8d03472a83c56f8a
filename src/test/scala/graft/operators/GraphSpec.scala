package graft.operators

import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.util.StageStats

/** Connected components: worst-case chains, multi component graphs,
  * and randomized agreement with a local union-find and with the
  * pointer-jumping oracle, on every path of the local finish:
  * `localEdges` = 0 (distributed only), 1–3 (a local finish after one
  * or more contraction rounds) and the default (a small graph finishes
  * before round 1). (ScalaCheck driven directly — the scalatestplus
  * bridge is not in the offline artifact cache.) */
class GraphSpec extends SparkSpec {

  private val bounds = Seq(0, 1, 2, 3, Graph.LocalEdges)

  private def cc(edges: Seq[(Long, Long)], localEdges: Int = Graph.LocalEdges): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b", localEdges = localEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Each endpoint of the non-self-loop edges with its component's min id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val real = edges.filter { case (a, b) => a != b }
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = real.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map { n =>
      val root = find(n)
      n -> nodes.filter(m => find(m) == root).min
    }.toMap
  }

  private def check(prop: Prop, cases: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, res.status.toString)
  }

  for (b <- bounds) {
    // the default bound keeps the cases' plain names
    val at = if (b == Graph.LocalEdges) "" else s" (localEdges=$b)"

    test(s"path graph collapses to its minimum (propagation worst case)$at") {
      val chain = (1L until 12L).map(i => (i, i + 1))
      val got = cc(chain, b)
      assert(got.keySet == (1L to 12L).toSet)
      assert(got.values.toSet == Set(1L))
    }

    test(s"multiple components, self loops ignored, reversed edges fine$at") {
      val got = cc(Seq((5L, 3L), (3L, 9L), (20L, 21L), (7L, 7L), (30L, 25L)), b)
      // 7's only edge is a self loop -> not an endpoint of any real edge
      assert(!got.contains(7L))
      assert(got(5L) == 3L && got(3L) == 3L && got(9L) == 3L)
      assert(got(20L) == 20L && got(21L) == 20L)
      assert(got(25L) == 25L && got(30L) == 25L)
    }

    test(s"random graphs agree with a local union-find$at") {
      val edgeGen = Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L))
      // each case runs a full CC — keep the count modest
      check(Prop.forAll(Gen.listOfN(25, edgeGen))(edges => cc(edges, b) == unionFind(edges)), 12)
    }

    test(s"contraction and pointer-jumping algorithms agree on random graphs$at") {
      import spark.implicits._
      // the two implementations share no round logic — agreement on
      // random graphs (plus both agreeing with union-find above) means
      // neither can certify its own systematic bug
      val edgeGen = Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L))
      check(Prop.forAll(Gen.listOfN(30, edgeGen)) { edges =>
        val real = edges.filter { case (a, b) => a != b }
        real.isEmpty || {
          val df = real.toDF("a", "b")
          val contract = Graph.connectedComponents(df, "a", "b", localEdges = b)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val jump = GraphOracle.connectedComponentsJump(df, "a", "b")
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          contract == jump
        }
      }, 8)
    }
  }

  test("duplicate and reversed edges do not change the contraction result") {
    val base = Seq((1L, 2L), (2L, 3L), (8L, 9L))
    val noisy = base ++ base.map(_.swap) ++ base ++ Seq((3L, 1L))
    for (b <- bounds) assert(cc(noisy, b) == cc(base, b), s"localEdges=$b")
  }

  test("an edge list of only self loops has no components") {
    for (b <- bounds) assert(cc(Seq((4L, 4L), (6L, 6L)), b).isEmpty, s"localEdges=$b")
  }

  test("int and string ids keep their type, on the local and the distributed path") {
    import spark.implicits._
    def types(df: org.apache.spark.sql.DataFrame): Seq[DataType] =
      Seq(df.schema("node").dataType, df.schema("component").dataType)
    for (b <- Seq(0, 1, Graph.LocalEdges)) {
      val ints = Graph.connectedComponents(
        Seq((5, 3), (3, 9), (20, 21), (22, 21)).toDF("a", "b"), "a", "b", localEdges = b)
      assert(types(ints) == Seq(IntegerType, IntegerType), s"localEdges=$b")
      assert(ints.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
        Map(3 -> 3, 5 -> 3, 9 -> 3, 20 -> 20, 21 -> 20, 22 -> 20), s"localEdges=$b")
      // Spark orders strings by UTF-8 bytes: "B" < "a" < "é", and an
      // emoji (UTF-16 surrogates below U+FFFD, UTF-8 bytes above it)
      // sorts after U+FFFD, unlike java.lang.String.compareTo
      val (e, emoji, fffd) = ("\u00e9", "\uD83D\uDE00", "\uFFFD")
      val strs = Graph.connectedComponents(
        Seq(("a", e), (e, "B"), (emoji, fffd)).toDF("a", "b"), "a", "b", localEdges = b)
      assert(types(strs) == Seq(StringType, StringType), s"localEdges=$b")
      assert(strs.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
        Map("a" -> "B", e -> "B", "B" -> "B", emoji -> fffd, fffd -> fffd), s"localEdges=$b")
    }
    val longs = Graph.connectedComponents(Seq((1L, 2L)).toDF("a", "b"), "a", "b")
    assert(types(longs) == Seq(LongType, LongType))
    // an int and a long column contract in the wider type, as before
    val mixed = Graph.connectedComponents(Seq((5, 3L), (9, 5L), (7, 8L)).toDF("a", "b"), "a", "b")
    assert(types(mixed) == Seq(LongType, LongType))
    assert(mixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L))
  }

  test("the count job materializes the checkpoint: its input is computed once") {
    import spark.implicits._
    val evals = spark.sparkContext.longAccumulator("graph-spec-evals")
    val touch = udf { (x: Long) => evals.add(1); x }
    val (cp, n) = Graph.counted(spark.range(0, 100, 1, 4).select(touch($"id").as("id")))
    assert(n == 100)
    assert(cp.collect().length == 100 && cp.where($"id" >= 50).count() == 50)
    assert(evals.value == 100)
  }

  test("a graph within the bound runs the edge checkpoint and one read, and no round") {
    import spark.implicits._
    val stats = new StageStats(printFromMs = Long.MaxValue)
    spark.sparkContext.addSparkListener(stats)
    try {
      def jobs(localEdges: Int): Int = {
        val m = stats.mark
        Graph.connectedComponents(Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("a", "b"), "a", "b",
          localEdges = localEdges)
        stats.settle()
        stats.since(m).jobs
      }
      // the checkpoint's job counts 3 edges; one job reads them
      assert(jobs(Graph.LocalEdges) == 2)
      // distributed: round-1 labels, the round's edges and labels, the
      // converged round's edges, each checkpointed
      assert(jobs(0) > 2)
    } finally spark.sparkContext.removeSparkListener(stats)
  }
}
