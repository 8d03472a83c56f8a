package graft.operators

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Connected components: worst-case chains (pointer jumping), multi
  * component graphs, and randomized agreement with a local
  * union-find. (ScalaCheck driven directly — the scalatestplus
  * bridge is not in the offline artifact cache.) */
class GraphSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph collapses to its minimum (propagation worst case)") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.keySet == (1L to 12L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("multiple components, self loops ignored, reversed edges fine") {
    val got = cc(Seq((5L, 3L), (3L, 9L), (20L, 21L), (7L, 7L), (30L, 25L)))
    // 7's only edge is a self loop -> not an endpoint of any real edge
    assert(!got.contains(7L))
    assert(got(5L) == 3L && got(3L) == 3L && got(9L) == 3L)
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got(25L) == 25L && got(30L) == 25L)
  }

  test("random graphs agree with a local union-find") {
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L))
    val prop = Prop.forAll(Gen.listOfN(25, edgeGen)) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      real.isEmpty || {
        // local union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        real.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = real.flatMap(e => Seq(e._1, e._2)).distinct
        val expect = nodes.map { n =>
          val root = find(n)
          // canonical representative = min node in component
          n -> nodes.filter(m => find(m) == root).min
        }.toMap
        cc(real) == expect
      }
    }
    // each case runs a full distributed CC — keep the count modest
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("contraction and pointer-jumping algorithms agree on random graphs") {
    import spark.implicits._
    // the two implementations share no round logic — agreement on
    // random graphs (plus both agreeing with union-find above) means
    // neither can certify its own systematic bug
    val edgeGen = Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L))
    val prop = Prop.forAll(Gen.listOfN(30, edgeGen)) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      real.isEmpty || {
        val df = real.toDF("a", "b")
        val contract = Graph.connectedComponents(df, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val jump = GraphOracle.connectedComponentsJump(df, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        contract == jump
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("duplicate and reversed edges do not change the contraction result") {
    val base = Seq((1L, 2L), (2L, 3L), (8L, 9L))
    val noisy = base ++ base.map(_.swap) ++ base ++ Seq((3L, 1L))
    assert(cc(noisy) == cc(base))
  }
}
