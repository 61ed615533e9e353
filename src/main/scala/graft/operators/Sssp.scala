package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Single-source shortest paths — the reference's `sssp` Lonestar app
 * (lonestar/analytics/cpu/sssp/SSSP.cpp:58-84, delta-stepping ×9
 * variants; SURVEY.md §2.6). Delta-stepping's bucketed worklist is a
 * shared-memory scheduling order; its BSP fixpoint is plain Bellman-Ford
 * relaxation rounds, which is what a bulk-synchronous engine runs — same
 * distances.
 *
 * Two weight surfaces, matching the reference's two graph shapes:
 *  - REAL edge weights (the reference default: `.gr` edge payloads,
 *    graph-convert.cpp:118-131, consumed at SSSP.cpp:58-84) — adjacency
 *    built by [[Adjacency.build]] from an edge table with a `w` column,
 *    whose blocks carry a `ws` array aligned with `dsts`;
 *  - synthetic weights for weightless edge tables ([[syntheticWeight]]:
 *    1 + (src + dst) mod 9, replicable in plain integer SQL).
 *
 * State holds reached vertices only; unlike BFS, a reached vertex CAN
 * improve (a shorter weighted path arrives later), so every round
 * relaxes from all reached vertices and min-folds into the state.
 */
object Sssp {

  /** Deterministic synthetic edge weight in [1, 9]. */
  def syntheticWeight(src: Column, dst: Column): Column =
    lit(1L) + pmod(src + dst, lit(9L))

  private def scatter(adj: Adjacency, frontier: DataFrame): DataFrame =
    adj.blocks
      .join(frontier, adj.blocks("src") === frontier("id"))
      .select(col("src"), explode(col("dsts")).as("nbr"), col("dist"))
      .select(col("nbr").as("id"),
        (col("dist") + syntheticWeight(col("src"), col("nbr"))).as("dist"))
      .groupBy("id").agg(min(col("dist")).as("dist"))

  /** Relaxation over REAL edge weights: weighted blocks from
    * [[Adjacency.build]] carry (dsts, ws) parallel arrays; the
    * zip-explode keeps each neighbor paired with its weight. */
  private def scatterWeighted(adj: Adjacency, frontier: DataFrame): DataFrame =
    adj.blocks
      .join(frontier, adj.blocks("src") === frontier("id"))
      .select(explode(arrays_zip(col("dsts"), col("ws"))).as("z"), col("dist"))
      .select(col("z.dsts").as("id"), (col("dist") + col("z.ws")).as("dist"))
      .groupBy("id").agg(min(col("dist")).as("dist"))

  /** Exactly k relaxation rounds: every vertex reachable within k hops,
    * with its best ≤k-hop weighted distance. The weights follow the
    * adjacency's schema, like [[zeroDist]]: blocks with a `ws` array
    * ([[Adjacency.build]]) relax over their real weights, blocks
    * without one over [[syntheticWeight]]. */
  def fixedRounds(adj: Adjacency, source: Long, k: Int): DataFrame = {
    val spark = adj.blocks.sparkSession
    import spark.implicits._
    val relax =
      if (adj.blocks.schema.fieldNames.contains("ws")) scatterWeighted _
      else scatter _
    // no early exit: carrying the old distance through the min-fold to
    // detect a fixpoint measured 12% slower at k = 4
    var state = Seq(source).toDF("id")
      .select(col("id"), zeroDist(adj).as("dist")).transform(Materialize(_))
    for (_ <- 1 to k) {
      state = state.unionAll(relax(adj, state))
        .groupBy("id").agg(min(col("dist")).as("dist"))
        .transform(Materialize(_))
    }
    state
  }

  /** Zero distance in the graph's weight type (long for the synthetic /
    * integer-weighted paths, double for real-valued `ws`), so unions and
    * relaxations never mix types. */
  private def zeroDist(adj: Adjacency): Column = {
    val t = adj.blocks.schema.fields.find(_.name == "ws")
      .map(_.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType)
      .getOrElse(org.apache.spark.sql.types.LongType)
    lit(0L).cast(t)
  }
}
