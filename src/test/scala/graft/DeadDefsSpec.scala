package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Runs the dead-code scan (`tools/dead_defs.py`) over the build root:
  * a public def or val in `src/main` that only specs name fails the
  * suite unless the scan's keep-list gives a reason for it. Starts no
  * SparkContext. */
class DeadDefsSpec extends AnyFunSuite {

  test("tools/dead_defs.py finds no public main member that only specs name") {
    val root = new java.io.File(sys.props("user.dir"))
    assert(new java.io.File(root, "tools/dead_defs.py").isFile, s"not the build root: $root")
    val out = new StringBuilder
    val exit = Process(Seq("python3", "tools/dead_defs.py"), root)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(exit == 0, s"\n$out")
  }
}
