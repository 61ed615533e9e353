package graft.operators

import graft.exec.Materialize
import graft.plans.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

final case class ComponentsResult(components: DataFrame, iterations: Int,
    converged: Boolean, metrics: Seq[IterMetric])

/**
 * Connected components via iterative min-label propagation — the
 * reference's LabelPropAlgo (ConnectedComponents.cpp:183-230): init
 * comp = id; each round a vertex whose component label shrank since the
 * last round pushes its label to all neighbors, which keep the minimum;
 * fixpoint when no label changes. Requires a symmetric edge table
 * (ConnectedComponents.cpp:1214-1218) — callers pass
 * `GraphOps.symmetrize(...)`-derived adjacency.
 *
 * Plain min-label needs O(diameter) rounds. The reference's union-find
 * variants (Sync/Async/Afforest, ConnectedComponents.cpp:241-1036)
 * sidestep that with path compression (`parent[x] = parent[parent[x]]`,
 * e.g. :285-292). This engine interleaves the same idea as a POINTER-JUMP
 * round — `comp' = comp[comp]`, one O(V)⋈O(V) self-join — between edge
 * relaxations, collapsing the round count to O(log diameter). Invariants
 * (so the fixpoint is unchanged): comp(v) always names a vertex in v's
 * component and only decreases; a state stable under both relax and jump
 * has comp constant per component and equal to its min id — exactly the
 * contract of the plain kernel and of the unrolled SQL oracle.
 *
 * Scale shape: relax rounds join the frontier (O(changed)) against the
 * src-partitioned blocked adjacency (exchange reused every round) with
 * map-side partial min before the one dst shuffle; jump rounds are a
 * single hash self-join of the O(V) state. Each round is ONE Spark action
 * — the changed-count comes out of the materializing pass via
 * `Dataset.observe`, not a second scan. Checkpoints truncate lineage and
 * provide mid-run resume.
 *
 * Afforest analog (ConnectedComponents.cpp:654-1036): the reference
 * samples 2 neighbors per vertex, detects the giant component, and skips
 * its members in the full pass. The BSP-native equivalent here is GRAPH
 * CONTRACTION: after `contractAfter` settling rounds, the edge set is
 * rewritten as the DISTINCT CROSS-CLUSTER label pairs — every edge
 * internal to an already-settled cluster (on a power-law web graph,
 * overwhelmingly the giant component's) vanishes from all later rounds,
 * which is the same traffic Afforest's skip removes. Contraction is
 * exact: labels always name a same-component vertex, so cluster-graph
 * components = original components, and the fixpoint label of a cluster
 * group is the min original vertex id. The contracted edge count is
 * logged to the metrics sink per the north rule.
 *
 * Contraction is GATED (r3 lesson: unconditional contraction was a
 * measured 2.7x regression at driver scale): the pass costs two full
 * O(E) label joins plus a distinct, and only pays when (a) the graph is
 * big enough that the rounds it eliminates each scan a large block set —
 * `contractMinEdges` floors that — and (b) the labels have mostly
 * settled (`lastChanged <= settleFrac * V`), so most edges are already
 * intra-cluster and the contracted edge set is small. Small graphs whose
 * label propagation converges in a handful of rounds now skip the pass
 * entirely and just run phase 1 to fixpoint; graphs that never settle
 * below the fraction are force-contracted after 4x the settling budget
 * (a huge-diameter graph is exactly where round-collapse helps most).
 */
object ConnectedComponents {

  def run(
      adj: Adjacency,
      maxIter: Int = 1000,
      checkpointEvery: Int = 20,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false,
      contractAfter: Int = 4,
      contractMinEdges: Long = 5000000L,
      settleFrac: Double = 0.05): ComponentsResult = {

    val metrics = ArrayBuffer.empty[IterMetric]
    val resumed = if (resume) store.flatMap(_.latest("cc")) else None
    var iter = resumed.map(_._1).getOrElse(0)
    // state: (id, comp, changed) — `changed` is the reference's
    // comp_old > comp_current test gating the push (l.213), widened to
    // "changed since this vertex last pushed" so a jump-round shrink is
    // still pushed by the next relax round.
    var state = Materialize(resumed.map(_._2).getOrElse(
      adj.vertices.select(col("id"), col("id").as("comp"),
        lit(true).as("changed"))))

    // stop when a relax AND the following jump both change nothing
    var lastChanged = Long.MaxValue
    var prevChanged = Long.MaxValue
    def converged = lastChanged == 0 && prevChanged == 0

    // one relax-or-jump superstep over (state, mins-producer); returns the
    // next state after observe + capped checkpoint (pointer-jump
    // self-joins square Catalyst's size estimate per round, see
    // GraftPlanBridge), and updates counters
    def step(cur: DataFrame, relaxRound: Boolean,
        minsOf: DataFrame => DataFrame): DataFrame = {
      val stepped =
        if (relaxRound) {
          val mins = minsOf(cur.filter(col("changed")))
          cur
            .join(mins, Seq("id"), "left")
            .select(col("id"),
              least(col("comp"), coalesce(col("msg"), col("comp"))).as("comp"),
              (coalesce(col("msg"), col("comp")) < col("comp")).as("changed"))
        } else {
          // pointer jump: comp' = comp[comp] (inner join is safe — every
          // comp value is an id present in the state)
          val d = cur.select(col("id").as("cid"), col("comp").as("ccomp"))
          cur.join(d, cur("comp") === d("cid"))
            .select(cur("id"),
              col("ccomp").as("comp"),
              (col("changed") || (col("ccomp") < cur("comp"))).as("changed"))
        }
      val o = Materialize.observed(stepped,
        sum(when(col("changed"), 1L).otherwise(0L)).as("n"))
      prevChanged = lastChanged
      lastChanged = o.long("n")
      o.df
    }

    def blockMins(frontier: DataFrame): DataFrame =
      adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"), col("comp").as("msg"))
        .groupBy("id").agg(min(col("msg")).as("msg"))

    // contraction eligibility, re-checked after every settling round:
    // big enough to pay for the O(E) pass AND (mostly settled, so the
    // cluster graph will be small, OR stuck past 4x the settling budget —
    // the huge-diameter case where collapsing rounds is the whole point).
    // lastChanged is only meaningful once a round has actually run.
    def contractEligible: Boolean =
      adj.numEdges >= contractMinEdges && lastChanged != Long.MaxValue &&
        (lastChanged <= settleFrac * adj.numVertices ||
          iter >= 4 * contractAfter)

    // ---- phase 1: settling rounds over the full blocked CSR ----
    while (!converged && iter < maxIter &&
        (iter < contractAfter || !contractEligible)) {
      val t0 = System.nanoTime()
      var next = step(state, iter % 2 == 0, blockMins)
      iter += 1
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, lastChanged.toDouble, adj.numEdges, ms)
      store.foreach(_.appendMetrics("cc", iter, lastChanged.toDouble,
        adj.numEdges, ms))
      if (store.nonEmpty && (iter % checkpointEvery == 0 || converged)) {
        next = store.get.commitState("cc", iter, next)
      }
      state = next
    }
    if (converged || iter >= maxIter) {
      return ComponentsResult(state.select(col("id"), col("comp")), iter,
        converged, metrics.toSeq)
    }

    // ---- contract: distinct cross-cluster label pairs ----
    val tc = System.nanoTime()
    val labels = Materialize(state.select(col("id"), col("comp")))
    val lsrc = labels.select(col("id").as("src"), col("comp").as("cs"))
    val ldst = labels.select(col("id").as("dst"), col("comp").as("cd"))
    val oc = Materialize.observed(adj.blocks
      .select(col("src"), explode(col("dsts")).as("dst"))
      .join(lsrc, "src").join(ldst, "dst")
      .filter(col("cs") =!= col("cd"))
      .select(col("cs").as("src"), col("cd").as("dst"))
      .distinct(), count(lit(1)).as("n"))
    val e1 = oc.df
    val contracted = oc.long("n")
    // metrics row: how much edge traffic the contraction removed — the
    // "measurably fewer joined rows per round" evidence
    store.foreach(_.appendMetrics("cc_contract", iter, contracted.toDouble,
      adj.numEdges, (System.nanoTime() - tc) / 1000000))
    metrics += IterMetric(iter, contracted.toDouble, adj.numEdges,
      (System.nanoTime() - tc) / 1000000)

    def clusterMins(frontier: DataFrame): DataFrame =
      e1.join(frontier, e1("src") === frontier("id"))
        .select(e1("dst").as("id"), col("comp").as("msg"))
        .groupBy("id").agg(min(col("msg")).as("msg"))

    def translate(cstateNow: DataFrame): DataFrame =
      labels
        .join(cstateNow.select(col("id").as("cid"), col("comp").as("cc")),
          labels("comp") === col("cid"))
        .select(labels("id"), col("cc").as("comp"), lit(true).as("changed"))

    // ---- phase 2: min-label + jump fixpoint on the cluster graph ----
    var cstate = Materialize(labels.select(col("comp").as("id")).distinct()
      .select(col("id"), col("id").as("comp"), lit(true).as("changed")))
    lastChanged = Long.MaxValue
    prevChanged = Long.MaxValue
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      val next = step(cstate, iter % 2 == 0, clusterMins)
      iter += 1
      val ms = (System.nanoTime() - t0) / 1000000
      metrics += IterMetric(iter, lastChanged.toDouble, contracted, ms)
      store.foreach(_.appendMetrics("cc", iter, lastChanged.toDouble,
        contracted, ms))
      if (store.nonEmpty && (iter % checkpointEvery == 0 || converged)) {
        // commits stay in PER-VERTEX form so any resume re-contracts from
        // a plain (id, comp, changed) snapshot
        store.get.commitState("cc", iter, translate(next))
      }
      cstate = next
    }
    ComponentsResult(translate(cstate).select(col("id"), col("comp")), iter,
      converged, metrics.toSeq)
  }

  /** findLargest (ConnectedComponents.cpp:1074-1157): component histogram. */
  def componentSizes(components: DataFrame): DataFrame =
    components.groupBy("comp").agg(count(lit(1)).as("size"))

  /** Reference verify (ConnectedComponents.cpp:1046-1072): true iff every
    * edge's endpoints share a component. */
  def verify(edges: DataFrame, components: DataFrame): Boolean = {
    val cSrc = components.select(col("id").as("src"), col("comp").as("cs"))
    val cDst = components.select(col("id").as("dst"), col("comp").as("cd"))
    edges.join(cSrc, "src").join(cDst, "dst")
      .filter(col("cs") =!= col("cd")).isEmpty
  }
}
