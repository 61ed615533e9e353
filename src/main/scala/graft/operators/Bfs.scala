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
 * last round) scatters dist+1 along out-edges, an anti-join keeps the
 * genuinely new vertices (BFS distances are final on first touch with
 * unit weights), and the union grows the state. O(frontier) join work per
 * round against the persisted src-partitioned blocks; the newly-reached
 * count rides the materializing pass via Dataset.observe.
 */
object Bfs {

  /** Exactly k rounds (the SQL-oracle kernel): every vertex within k hops
    * of `source`, with its hop distance.
    *
    * Scatter runs from the FRONTIER (dist = r−1) only, not the whole
    * reached set: a vertex reached at round d holds its final distance
    * (unit weights), so re-scattering it at a later round can only
    * produce candidates ≥ its neighbors' existing labels — the min-fold
    * drops them all. Identical state per round, O(frontier·deg) work
    * instead of O(reached·deg). Rounds after the frontier empties are
    * no-ops, so the loop exits early (the observe on the materializing
    * pass counts next-round frontier rows — no extra scan); the result
    * still equals the full k-round unroll the SQL oracle runs. */
  def fixedRounds(adj: Adjacency, source: Long, k: Int): DataFrame = {
    val spark = adj.blocks.sparkSession
    import spark.implicits._
    var state = Seq((source, 0L)).toDF("id", "dist").localCheckpoint(true)
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val frontier = state.filter(col("dist") === r - 1)
      val scatter = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"), (col("dist") + 1).as("dist"))
      val o = Materialize.observed(state.unionAll(scatter)
        .groupBy("id").agg(min(col("dist")).as("dist")),
        sum(when(col("dist") === r, 1L).otherwise(0L)).as("n"))
      state = o.df
      exhausted = o.long("n") == 0L
    }
    state
  }

  /** gr2sortedbfsgr (graph-convert.cpp:1097-1180 SortByBFS): relabel
    * vertices in BFS-traversal order from `source` as a (id, new_id)
    * dictionary; unreached vertices follow, in id order. The reference's
    * within-level visit order is worklist-nondeterministic — this engine
    * fixes it to (hop distance, id), which is a valid BFS order and makes
    * the output oracle-verifiable. Distributed rank, no global window. */
  def relabel(adj: Adjacency, source: Long, rounds: Int): DataFrame = {
    val dist = fixedRounds(adj, source, rounds)
    val keyed = adj.vertices.join(dist, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("dist"), lit(Long.MaxValue)).as("d"))
    graft.plans.Ranking
      .globalRank(keyed, Seq(col("d").asc, col("id").asc), "new_id")
      .select(col("id"), col("new_id"))
  }

  /** To fixpoint with frontier gating: (reached (id, dist), rounds). */
  def run(adj: Adjacency, source: Long, maxIter: Int = 10000): (DataFrame, Int) = {
    val spark = adj.blocks.sparkSession
    import spark.implicits._
    var state = Seq((source, 0L, true)).toDF("id", "dist", "fresh")
      .localCheckpoint(true)
    var newly = 1L
    var rounds = 0
    while (newly > 0 && rounds < maxIter) {
      val frontier = state.filter(col("fresh"))
      val mins = adj.blocks
        .join(frontier, adj.blocks("src") === frontier("id"))
        .select(explode(col("dsts")).as("id"), (col("dist") + 1).as("dist"))
        .groupBy("id").agg(min(col("dist")).as("dist"))
      val grown = mins.join(state, Seq("id"), "left_anti")
      val o = Materialize.observed(
        state.select(col("id"), col("dist"), lit(false).as("fresh"))
          .unionAll(grown.select(col("id"), col("dist"), lit(true).as("fresh"))),
        sum(when(col("fresh"), 1L).otherwise(0L)).as("n"))
      state = o.df
      newly = o.long("n")
      rounds += 1
    }
    (state.select(col("id"), col("dist")), rounds)
  }
}
