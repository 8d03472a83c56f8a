package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The independent reference for [[Graph.connectedComponents]]:
  * GraphSpec proves the two agree on random graphs (and both agree
  * with a local union-find), so a systematic bug in either cannot
  * self-certify. Its per-round cost is E-sized every round (the edge
  * list never shrinks), which measured ~2× the contraction's wall
  * time at the 50× ScaleStress scale. */
object GraphOracle {

  /** Pointer-jumping connected components:
    * min-label propagation with label(label) short-circuiting,
    * O(log d) rounds, each round two hash equi-joins + one
    * aggregation over the FULL edge list. Labels only ever decrease,
    * so the fixpoint test ("did any label change?") is an exact
    * anti-monotone comparison, not a heuristic checksum. */
  def connectedComponentsJump(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true)
    // initialization folds in the first propagation round for free:
    // label₀(v) = min(v, min neighbor) costs the same one shuffle as
    // a plain self-label over distinct nodes would
    var labels = sym.groupBy("u")
      .agg(min(col("v")).as("__mn"))
      .select(col("u").as("node"), least(col("u"), col("__mn")).as("label"))
      .localCheckpoint(true)
    var iter = 0
    val labelType = labels.schema("label").dataType
    while (iter < maxIter) {
      // propagate: min over own label and every neighbor's label. The
      // self row threads the previous label through the aggregation
      // (exactly one non-null __prev per node survives the max), so
      // the fixpoint test below reads the round's own checkpointed
      // output — no separate prev-label join and no extra Spark job
      // per round.
      val nbr = sym
        .join(labels.select(col("node").as("v"), col("label")), "v")
        .select(col("u").as("node"), col("label"),
          lit(null).cast(labelType).as("__prev"))
      val prop = labels
        .select(col("node"), col("label"), col("label").as("__prev"))
        .union(nbr)
        .groupBy("node")
        .agg(min("label").as("label"), max("__prev").as("__prev"))
      // jump: label ← label(label). Every label IS a node id of this
      // graph (initial labels are node ids; min and jump preserve
      // that), so the inner join is total.
      val next = prop
        .join(prop.select(col("node").as("label"), col("label").as("__jl")), "label")
        .select(col("node"), col("__jl").as("label"),
          (col("__jl") < col("__prev")).as("__chg"))
        .localCheckpoint(true)
      // labels only ever decrease, so "any __chg" is the exact
      // anti-monotone convergence test — a filter scan over the
      // blocks just materialized, not a recomputation.
      val done = next.where(col("__chg")).isEmpty
      labels = next.select(col("node"), col("label"))
      iter += 1
      if (done) return labels.select(col("node"), col("label").as("component"))
    }
    throw new IllegalStateException(
      s"connectedComponentsJump did not converge in $maxIter rounds")
  }
}
