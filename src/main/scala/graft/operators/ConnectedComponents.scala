package graft.operators

import graft.exec.Materialize
import graft.operators.Supersteps.Step
import graft.plans.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
 * `Dataset.observe`, not a second scan. The rounds run through
 * [[Supersteps]], whose store commits truncate lineage and provide mid-run
 * resume.
 */
object ConnectedComponents {

  def run(
      adj: Adjacency,
      maxIter: Int = 1000,
      checkpointEvery: Int = 20,
      store: Option[SnapshotStore] = None,
      resume: Boolean = false): ComponentsResult = {

    // stop when a relax AND the following jump both change nothing
    var lastChanged = Long.MaxValue
    var prevChanged = Long.MaxValue
    val r = Supersteps.run("cc", adj.numEdges, maxIter, checkpointEvery,
        store, resume)(
      // state: (id, comp, changed) — `changed` is the reference's
      // comp_old > comp_current test gating the push (l.213), widened to
      // "changed since this vertex last pushed" so a jump-round shrink is
      // still pushed by the next relax round.
      resumed => (Materialize(resumed.getOrElse(
        adj.vertices.select(col("id"), col("id").as("comp"),
          lit(true).as("changed")))), false)) { (iter, cur) =>
      val stepped =
        if (iter % 2 == 0) {
          val mins = adj.scatter(cur.filter(col("changed")),
              col("comp").as("msg"))
            .groupBy("id").agg(min(col("msg")).as("msg"))
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
      // observe + capped checkpoint (pointer-jump self-joins square
      // Catalyst's size estimate per round, see GraftPlanBridge)
      val o = Materialize.observed(stepped,
        sum(when(col("changed"), 1L).otherwise(0L)).as("n"))
      prevChanged = lastChanged
      lastChanged = o.long("n")
      Step(o.df, 1, lastChanged.toDouble, lastChanged == 0 && prevChanged == 0)
    }
    ComponentsResult(r.state.select(col("id"), col("comp")), r.iterations,
      r.done, r.metrics)
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
