package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph resolution for dedup pipelines.
  *
  * Near-dup detection ([[Dedup.nearDupPairsShingled]], simhash,
  * embedding LSH) emits PAIRS; a training-data pipeline needs GROUPS —
  * "keep one document per duplicate cluster" is a connected-components
  * problem over the pair graph (pairs are not transitive-closed: A~B
  * and B~C often arrive without A~C). This is the resolution step of
  * every large-scale dedup system.
  *
  * [[connectedComponents]] is min-label CONTRACTION. Each round
  * labels every node with the min of its neighborhood (and itself),
  * then rewrites the edge list to label space: intra-label edges
  * vanish, so |E| shrinks geometrically (a near-dup family that is
  * clique-ish contracts to nothing in one round; a path halves per
  * round → O(log n) rounds). The original-node → label mapping is
  * NOT composed per round: post-round-1 label tables (residue-sized)
  * are folded right-to-left at convergence and applied to the
  * V-sized round-1 labels exactly once. After round 1, all work is
  * proportional to the SURVIVING edge set — on real dedup graphs a
  * tiny residue — so both the E-sized and the V-sized costs are paid
  * ~once, not once per round. The symmetrized edge list is
  * deliberately NOT deduplicated: min aggregation is
  * duplicate-insensitive and the contraction's own per-round
  * `distinct` runs on the shrunken set, so no E-sized distinct
  * shuffle is paid up front.
  *
  * Its independent reference, a pointer-jumping min-label
  * propagation, lives in the test tree: GraphSpec proves the two
  * agree on random graphs (and both agree with a local union-find),
  * so a systematic bug in either cannot self-certify.
  *
  * Scale shape (100 TB): the edge list is materialized ONCE
  * (`localCheckpoint` — the upstream pair generation, e.g. a full
  * minhash pipeline, must not re-execute per round); per-round state
  * is one (node, label) row per vertex — O(V) longs, never adjacency
  * lists on the driver, no `.collect()`. Skew: a giant component is
  * fine (labels are scalar); a giant-degree vertex concentrates its
  * neighbor-min partial aggregation, which Spark's partial
  * aggregation (map-side combine) absorbs.
  *
  * Reference scope note: the reference has no graph operators
  * (SURVEY §2.8 — verified absent); this is a §2.9 extension
  * completing the dedup family.
  */
object Graph {

  /** The nodes a dedup drops: every node of an `id_a`/`id_b` pair
    * graph's components except the component's representative (its
    * smallest id), as `idCol` followed by `extra` (over `node` and
    * `component`). */
  def nonRepresentatives(pairs: DataFrame, idCol: String, extra: Column*): DataFrame =
    connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol) +: extra: _*)

  /** Connected components of the undirected graph given by an edge
    * list. Output: one row per DISTINCT endpoint, `(node, component)`
    * where `component` is the smallest node id in the component
    * (a canonical, deterministic representative). Isolated nodes
    * (appearing in no edge) are absent — callers that track a node
    * universe union them back as their own singleton component.
    *
    * Node ids may be any orderable type (long doc ids here); self
    * loops are ignored.
    *
    * @throws IllegalStateException if not converged after `maxIter`
    *         rounds (contraction halves the surviving path length per
    *         round, so this needs component diameter ~2^maxIter —
    *         structurally unreachable; the guard exists so a logic
    *         regression fails loudly rather than returning a
    *         half-merged labeling).
    *
    * Resource note: each round's `localCheckpoint` persists a small
    * (node, label) / surviving-edge RDD; superseded rounds' blocks
    * are reclaimed asynchronously by the ContextCleaner once
    * unreferenced. Callers running many CC invocations in one
    * session can force reclamation with `spark.catalog.clearCache()`
    * between calls (Bench/Verify already do).
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    // materialize the edge list DIRECTED (one row per input pair, not
    // two): labels need the symmetric neighborhood, which the cheap
    // union-of-checkpointed-blocks view below provides, but the
    // expensive contraction joins only need each edge rewritten once —
    // running them on the directed list halves their probe volume.
    var cur = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint(true)
    def sym(g: DataFrame): DataFrame =
      g.union(g.select(col("v").as("u"), col("u").as("v")))
    // label = min(self, neighborhood); over the symmetrized view
    // every endpoint appears as u, so round-1 labels double as the
    // full original-node → label mapping. Symmetrized WITHOUT
    // distinct (see object scaladoc): min is duplicate-insensitive.
    def roundLabels(g: DataFrame): DataFrame = sym(g).groupBy("u")
      .agg(min(col("v")).as("__mn"))
      .select(col("u").as("node"), least(col("u"), col("__mn")).as("label"))
    val labels1 = roundLabels(cur).localCheckpoint(true)
    var labels = labels1
    // per-round label tables AFTER round 1 — all residue-sized. The
    // V-sized mapping is NOT composed per round (the r12 profile
    // showed the per-round V-sized compose join + checkpoint, not the
    // residue math, dominating 100× wall time); instead the chain is
    // folded right-to-left at the end — residue-sized joins only —
    // and applied to the V-sized round-1 labels exactly once. Sound
    // because label domains nest: dom(labels_{i+1}) ⊆ image(labels_i)
    // ⊆ dom(labels_i), so identity-fallback composition is
    // associative over the chain.
    val chain = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // contract: rewrite each directed edge to its endpoints' labels
      // (the label join is total — every endpoint has a label row),
      // drop collapsed self-loops FIRST (the overwhelming majority),
      // then canonicalize direction so the residue dedups to one row
      // per surviving label pair.
      val next = cur
        .join(labels.select(col("node").as("u"), col("label").as("__lu")), "u")
        .join(labels.select(col("node").as("v"), col("label").as("__lv")), "v")
        .where(col("__lu") =!= col("__lv"))
        .select(
          least(col("__lu"), col("__lv")).as("u"),
          greatest(col("__lu"), col("__lv")).as("v"))
        .distinct()
        .localCheckpoint(true)
      if (next.isEmpty) converged = true
      else {
        cur = next
        labels = roundLabels(cur).localCheckpoint(true)
        chain += labels
        iter += 1
      }
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
    // fold the residue chain (labels_2 ∘ labels_3 ∘ …, identity
    // fallback at each step), then ONE V-sized application
    val residue = chain.reduceRightOption { (li, m) =>
      li.join(m.select(col("node").as("__ln"), col("label").as("__nl")),
          li("label") === col("__ln"), "left")
        .select(li("node"), coalesce(col("__nl"), li("label")).as("label"))
    }
    residue match {
      case None => labels1.select(col("node"), col("label").as("component"))
      case Some(m) =>
        labels1
          .join(m.select(col("node").as("__ln"), col("label").as("__nl")),
            labels1("label") === col("__ln"), "left")
          .select(labels1("node"),
            coalesce(col("__nl"), labels1("label")).as("component"))
    }
  }

}
