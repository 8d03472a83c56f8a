package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed graph resolution for dedup pipelines.
  *
  * Near-dup detection ([[Dedup.nearDupPairsShingled]], simhash,
  * embedding LSH) emits PAIRS; a training-data pipeline needs GROUPS —
  * "keep one document per duplicate cluster" is a connected-components
  * problem over the pair graph (pairs are not transitive-closed: A~B
  * and B~C often arrive without A~C). This is the resolution step of
  * every large-scale dedup system.
  *
  * [[connectedComponents]] is min-label CONTRACTION with a local
  * finish (the two-phase shape of Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014). Each round
  * labels every node with the min of its neighborhood (and itself),
  * then rewrites the edge list to label space: intra-label edges
  * vanish (a near-dup family that is clique-ish contracts to nothing
  * in one round). A path whose ids increase along it is the worst
  * case: node i gets label i − 1, so each round drops ONE edge. Once
  * the surviving edge list (the residue) holds at most `localEdges`
  * rows, the driver reads it and finishes with a union-find instead
  * of running more rounds; a residue that small costs less to
  * resolve in memory than one more round's joins and checkpoints.
  * The original-node → label mapping is NOT composed per round:
  * post-round-1 label tables (residue-sized) are folded right-to-left
  * at convergence and applied to the V-sized round-1 labels exactly
  * once. After round 1, all work is proportional to the SURVIVING
  * edge set — on real dedup graphs a tiny residue — so both the
  * E-sized and the V-sized costs are paid ~once, not once per round.
  * The symmetrized edge list is deliberately NOT deduplicated: min
  * aggregation is duplicate-insensitive and the contraction's own
  * per-round `distinct` runs on the shrunken set, so no E-sized
  * distinct shuffle is paid up front.
  *
  * Its independent reference, a pointer-jumping min-label
  * propagation, lives in the test tree: GraphSpec proves the two
  * agree on random graphs (and both agree with a local union-find) at
  * every `localEdges` path, so a systematic bug in either cannot
  * self-certify.
  *
  * Scale shape (100 TB): the edge list is materialized ONCE
  * (`localCheckpoint` — the upstream pair generation, e.g. a full
  * minhash pipeline, must not re-execute per round); per-round state
  * is one (node, label) row per vertex — O(V) longs, never adjacency
  * lists on the driver. An edge list above the bound runs its
  * distributed round 1 (and as many more rounds as it takes to drop
  * under the bound); only the tail rounds move to the driver, whose
  * memory holds at most `localEdges` edges and their endpoints' labels.
  * Skew: a giant component is fine (labels are scalar); a
  * giant-degree vertex concentrates its neighbor-min partial
  * aggregation, which Spark's partial aggregation (map-side combine)
  * absorbs.
  *
  * Reference scope note: the reference has no graph operators
  * (SURVEY §2.8 — verified absent); this is a §2.9 extension
  * completing the dedup family.
  */
object Graph {

  /** Default residue bound of [[connectedComponents]]'s local finish.
    * The driver holds at most this many edges, the union-find over
    * their endpoints and the (node, label) table built from it. */
  val LocalEdges: Int = 1000000

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
    * Node ids may be any orderable type and keep it in the output;
    * self loops are ignored. The local finish takes integral and
    * (binary-collated) string ids with one type on both columns;
    * other ids always contract until the residue is empty.
    *
    * The directed edge list, and after each contraction round the
    * surviving edges, are checkpointed by a job that also counts their
    * rows. An empty residue has converged. One of at most `localEdges`
    * rows is read by one more job (all of it, and nothing else) and
    * finished on the driver by a union-find (min-id root). A larger
    * one contracts one more round. `localEdges = 0` keeps the whole
    * computation distributed.
    *
    * @throws IllegalStateException if not converged after `maxIter`
    *         rounds: an id-sorted path loses one edge per round, so
    *         this takes such a path of `localEdges + maxIter` edges or
    *         more (the guard fails loudly rather than returning a
    *         half-merged labeling).
    *
    * Resource note: the edge list's `localCheckpoint` and each round's
    * (node, label) and surviving-edge checkpoints persist small RDDs;
    * a graph that fits the bound persists only the edge list, and the
    * local finish saves the tail rounds' blocks. Superseded blocks
    * are reclaimed asynchronously by the ContextCleaner once
    * unreferenced. Callers running many CC invocations in one
    * session can force reclamation with `spark.catalog.clearCache()`
    * between calls (Bench/Verify already do).
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, localEdges: Int = LocalEdges): DataFrame = {
    // materialize the edge list DIRECTED (one row per input pair, not
    // two): labels need the symmetric neighborhood, which the cheap
    // union-of-checkpointed-blocks view below provides, but the
    // expensive contraction joins only need each edge rewritten once —
    // running them on the directed list halves their probe volume.
    val (cur, n) = counted(edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v")))
    val id = cur.schema("u")
    // the local finish needs one id type that it orders as Spark does
    val finishes = id.dataType == cur.schema("v").dataType && idOrdering(id.dataType).isDefined
    val bound = if (finishes) localEdges else 0
    if (finishes && n <= bound) local(cur, n, id, "component")
    else contracted(cur, id, bound, maxIter)
  }

  /** `g` local-checkpointed, with its row count. The count job is the
    * one that materializes the checkpoint (an eager `localCheckpoint`
    * runs the same job and drops the count), so the count is free. */
  private[operators] def counted(g: DataFrame): (DataFrame, Long) = {
    val cp = g.localCheckpoint(eager = false)
    (cp, cp.queryExecution.toRdd.count())
  }

  /** Min-label contraction of a checkpointed directed edge list that
    * does not fit the bound, down to a residue that does. */
  private def contracted(edges: DataFrame, id: StructField, bound: Int, maxIter: Int): DataFrame = {
    var cur = edges
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
    // per-round label tables AFTER round 1 — all residue-sized, the
    // last possibly the driver's union-find. The V-sized mapping is
    // NOT composed per round (the r12 profile showed the per-round
    // V-sized compose join + checkpoint, not the residue math,
    // dominating 100× wall time); instead the chain is folded
    // right-to-left at the end — residue-sized joins only — and
    // applied to the V-sized round-1 labels exactly once. Sound
    // because label domains nest: dom(labels_{i+1}) ⊆ image(labels_i)
    // ⊆ dom(labels_i), so identity-fallback composition is
    // associative over the chain.
    val chain = mutable.ArrayBuffer[DataFrame]()
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // contract: rewrite each directed edge to its endpoints' labels
      // (the label join is total — every endpoint has a label row),
      // drop collapsed self-loops FIRST (the overwhelming majority),
      // then canonicalize direction so the residue dedups to one row
      // per surviving label pair.
      val (next, n) = counted(cur
        .join(labels.select(col("node").as("u"), col("label").as("__lu")), "u")
        .join(labels.select(col("node").as("v"), col("label").as("__lv")), "v")
        .where(col("__lu") =!= col("__lv"))
        .select(
          least(col("__lu"), col("__lv")).as("u"),
          greatest(col("__lu"), col("__lv")).as("v"))
        .distinct())
      if (n <= bound) {
        if (n > 0) chain += local(next, n, id, "label")
        converged = true
      } else {
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

  /** Spark's own order (`min`, `least`) over the id types the local
    * finish takes: integral ids by value, strings by UTF-8 bytes. */
  private def idOrdering(t: DataType): Option[Ordering[Any]] = t match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
    case StringType =>
      Some(Ordering.by((x: Any) => UTF8String.fromString(x.asInstanceOf[String]))(
        Ordering.fromLessThan(_.compareTo(_) < 0)))
    case _ => None
  }

  /** The driver's union-find over the `n` (u, v) rows of a checkpointed
    * residue, as a local `(node, labelCol)` table typed like `id`. One
    * job reads the rows; none runs when `n` is 0. */
  private def local(g: DataFrame, n: Long, id: StructField, labelCol: String): DataFrame = {
    val labels: collection.Map[Any, Any] =
      if (n == 0) Map.empty else unionFind(g.collect(), idOrdering(id.dataType).get)
    g.sparkSession.createDataFrame(labels.map { case (a, l) => Row(a, l) }.toSeq.asJava,
      StructType(Seq(id.copy(name = "node"), id.copy(name = labelCol))))
  }

  /** Every endpoint of the (u, v) rows `es` with the smallest id of its
    * component. */
  private def unionFind(es: Array[Row], ord: Ordering[Any]): collection.Map[Any, Any] = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    es.foreach { e =>
      val (ra, rb) = (find(e.get(0)), find(e.get(1)))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.foreach(n => parent(n) = find(n))
    parent
  }
}
