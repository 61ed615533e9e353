package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Hop-distance BFS — the reference's `bfs` Lonestar app
 * (lonestar/analytics/cpu/bfs/bfs.cpp:60-75, Sync/Async tile variants;
 * SURVEY.md §2.6). Out of the north rule's four named algorithms, but it
 * is the canonical frontier kernel the engine's other iterative operators
 * reuse, so the BSP form comes almost for free.
 *
 * State holds REACHED vertices only — (id, dist) — so there is no
 * "infinity" sentinel anywhere: per round the frontier (vertices reached
 * last round) scatters dist+1 along out-edges and a min-fold over the
 * union with the state keeps each vertex's first distance (BFS distances
 * are final on first touch with unit weights). O(frontier) join work per
 * round against the persisted src-partitioned blocks; the newly-reached
 * count rides the materializing pass via Dataset.observe.
 */
object Bfs {

  /** At most `maxRounds` rounds from `source`: (every vertex within
    * that many hops, with its hop distance; rounds run).
    *
    * Scatter runs from the FRONTIER (dist = r−1) only, not the whole
    * reached set: a vertex reached at round d holds its final distance
    * (unit weights), so re-scattering it at a later round can only
    * produce candidates ≥ its neighbors' existing labels — the min-fold
    * drops them all. Identical state per round, O(frontier·deg) work
    * instead of O(reached·deg). A round that reaches no new vertex is a
    * fixpoint: every further round is the identity, so the loop stops
    * there (the observe on the materializing pass counts the round's
    * newly reached rows — no extra scan) and the result equals the full
    * `maxRounds` unroll the SQL oracle runs. */
  def run(adj: Adjacency, source: Long,
      maxRounds: Int = 10000): (DataFrame, Int) = {
    val spark = adj.blocks.sparkSession
    import spark.implicits._
    var state = Materialize(Seq((source, 0L)).toDF("id", "dist"))
    var newly = 1L
    var rounds = 0
    while (newly > 0 && rounds < maxRounds) {
      val frontier = state.filter(col("dist") === rounds)
      val scatter = adj.scatter(frontier, (col("dist") + 1).as("dist"))
      rounds += 1
      val o = Materialize.observed(state.unionAll(scatter)
        .groupBy("id").agg(min(col("dist")).as("dist")),
        sum(when(col("dist") === rounds, 1L).otherwise(0L)).as("n"))
      state = o.df
      newly = o.long("n")
    }
    (state, rounds)
  }

  /** gr2sortedbfsgr (graph-convert.cpp:1097-1180 SortByBFS): relabel
    * vertices in BFS-traversal order from `source` as a (id, new_id)
    * dictionary; unreached vertices follow, in id order. The reference's
    * within-level visit order is worklist-nondeterministic — this engine
    * fixes it to (hop distance, id), which is a valid BFS order and makes
    * the output oracle-verifiable. Distributed rank, no global window. */
  def relabel(adj: Adjacency, source: Long, rounds: Int): DataFrame = {
    val dist = run(adj, source, rounds)._1
    val keyed = adj.vertices.join(dist, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("dist"), lit(Long.MaxValue)).as("d"))
    graft.plans.Ranking
      .globalRank(keyed, Seq(col("d").asc, col("id").asc), "new_id")
      .select(col("id"), col("new_id"))
  }
}
