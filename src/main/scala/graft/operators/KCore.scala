package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * k-core decomposition membership — the reference's `k-core` Lonestar app
 * (lonestar/analytics/cpu/k-core/kcore.cpp:41-50, Async/Sync peel;
 * SURVEY.md §2.6): iteratively remove vertices whose degree in the
 * SURVIVING subgraph is < k, to fixpoint; what remains is the k-core.
 * Input must be a symmetric edge table (degree = out-degree there, like
 * the reference's symmetricGraph requirement).
 *
 * Each peel round is one degree aggregate + two semi-joins over the
 * surviving edges — O(E_alive), shrinking every round; the surviving
 * edge count rides the materializing pass via observe.
 */
object KCore {

  private def peel(edges: DataFrame, k: Int): DataFrame = {
    val keep = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("src").as("id"))
    edges
      .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** Peel at most `maxRounds` rounds: (surviving (id, deg) in the
    * subgraph after the last round, rounds run). A round that removes no
    * edge is a fixpoint: every further round is the identity, so the loop
    * stops there and the result equals the full `maxRounds` unroll (the
    * SQL oracle's form). The surviving edge count rides each
    * materializing pass, the start state's included, so a first round
    * that removes nothing is also the last. */
  def run(symEdges: DataFrame, k: Int,
      maxRounds: Int = 10000): (DataFrame, Int) = {
    val start = Materialize.observed(symEdges, count(lit(1)).as("n"))
    var edges = start.df
    var alive = start.long("n")
    var prev = Long.MaxValue
    var rounds = 0
    while (alive != prev && alive > 0 && rounds < maxRounds) {
      prev = alive
      val o = Materialize.observed(peel(edges, k), count(lit(1)).as("n"))
      edges = o.df
      alive = o.long("n")
      rounds += 1
    }
    (edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")), rounds)
  }
}
