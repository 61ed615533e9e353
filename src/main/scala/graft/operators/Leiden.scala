package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Leiden clustering — the reference's second clustering app
 * (lonestar/analytics/cpu/clustering/leidenClustering.cpp:80-268):
 * Louvain local-move + a REFINEMENT pass that re-partitions each
 * community from singletons, so badly-merged communities (connected only
 * through a hub) split before aggregation, and the coarsened level seeds
 * its local-move with the parent communities rather than singletons.
 *
 * BSP re-shaping (all on top of [[Louvain.moveRounds]] — same integer
 * score `2m·e − k·(Σtot − [C=c]·k)`, same alternating-direction
 * anti-oscillation rule, so every phase is oracle-able in plain SQL):
 *
 *  - REFINEMENT = the same synchronous local-move rounds, restarted from
 *    singleton sub-communities, with move candidates proposed only along
 *    INTRA-community edges while degrees k(v) and 2m stay full-graph
 *    (leidenClustering.cpp scores sub-community merges against global
 *    modularity). A vertex can only adopt the sub-community of a
 *    same-community neighbour, so by induction every sub-community stays
 *    inside one parent community — the refinement invariant the paper
 *    (Traag et al. 2019, §"guarantees") builds on; spec'd.
 *  - AGGREGATION runs on the REFINED partition ([[Louvain.coarsen]]),
 *    and the next level's local-move starts from each sub-community's
 *    parent community (`initial partition` of leidenClustering.cpp:238)
 *    instead of singletons — the piece Louvain lacks.
 *
 * Input: symmetric edge table, like [[Louvain]].
 */
object Leiden {

  /** Refinement pass over a weighted symmetric (src, dst, w) edge table
    * (also used on coarsened levels): (id, community) → (id, community)
    * where the output is a strict refinement of `assign` (every output
    * community ⊆ one input community). `rounds` synchronous
    * singleton-restart move rounds. */
  def refineWeighted(edges: DataFrame, assign: DataFrame,
      rounds: Int): DataFrame = {
    // intra-community edge subset: the only channel refinement moves
    // may travel. Two hash joins against the O(V) assignment — never
    // materializes anything bigger than the edge table itself.
    val intra = edges
      .join(assign.select(col("id").as("src"), col("community").as("ca")),
        "src")
      .join(assign.select(col("id").as("dst"), col("community").as("cb")),
        "dst")
      .filter(col("ca") === col("cb"))
      .select(col("src"), col("dst"), col("w"))
    Louvain.moveRounds(edges, intra, rounds, null)
  }

  /** Two Leiden levels: move + refine, aggregate on the REFINED
    * partition, seed the coarse level with the parent communities, move
    * r2 there, project back: (id, community). Level 1 is given over the
    * weighted edge table `w1`: `comm` is the materialized
    * [[Louvain.localMoveRoundsWeighted]] assignment and `sub` its
    * materialized [[refineWeighted]] refinement. */
  def twoLevel(w1: DataFrame, comm: DataFrame, sub: DataFrame,
      r2: Int): DataFrame = {
    val coarse = Louvain.coarsen(w1, sub)
    // each sub-community lies inside exactly one parent community (the
    // refinement invariant), so min() just picks the unique value — the
    // aggregate form keeps the plan deterministic if the invariant were
    // ever violated upstream
    val seed = sub
      .join(comm.withColumnRenamed("community", "parent"), "id")
      .groupBy(col("community").as("id"))
      .agg(min(col("parent")).as("c"))
    val l2 = Louvain.moveRounds(coarse, coarse, r2, seed)
    sub.join(l2.select(col("id").as("community"),
        col("community").as("c2")), "community")
      .select(col("id"), col("c2").as("community"))
  }

  /** Full multi-level Leiden to convergence: move + refine per level,
    * aggregate on the refined partition, seed from parents, until a
    * level stops merging or `maxLevels`; (id, community) over the
    * original vertices. */
  def cluster(edges: DataFrame, roundsPerLevel: Int = 4,
      refineRounds: Int = 2, maxLevels: Int = 10): DataFrame = {
    var cur = Materialize(edges.select(col("src"), col("dst"), lit(1L).as("w")))
    var seed: DataFrame = null    // coarse-level starting assignment
    var mapping: DataFrame = null // cumulative original-id → current vertex
    var level = 0
    var merging = true
    while (merging && level < maxLevels) {
      val comm = Materialize(Louvain.moveRounds(cur, cur, roundsPerLevel, seed))
      val sub = Materialize(refineWeighted(cur, comm, refineRounds))
      mapping =
        if (mapping == null) sub
        else mapping
          .join(sub.select(col("id").as("community"),
            col("community").as("c2")), "community")
          .select(col("id"), col("c2").as("community"))
          .transform(Materialize(_))
      val r = sub.agg(count(lit(1)).as("nv"),
        countDistinct(col("community")).as("nc")).first()
      merging = r.getLong(1) < r.getLong(0)
      if (merging) {
        seed = sub
          .join(comm.withColumnRenamed("community", "parent"), "id")
          .groupBy(col("community").as("id"))
          .agg(min(col("parent")).as("c"))
          .transform(Materialize(_))
        cur = Materialize(Louvain.coarsen(cur, sub))
      }
      level += 1
    }
    // the last level's communities ARE sub-community ids of that level;
    // mapping already points original vertices at them
    mapping
  }
}
