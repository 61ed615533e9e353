package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Louvain-style modularity clustering, local-move phase — the reference's
 * `clustering` apps (lonestar/analytics/cpu/clustering/
 * louvainClustering.cpp, 1276 LoC with leidenClustering.cpp;
 * SURVEY.md §2.4 scoped them out of the north rule, so this is the
 * engine's stretch surface), re-shaped for BSP:
 *
 *  - SYNCHRONOUS rounds: every vertex evaluates the modularity gain of
 *    joining each neighboring community against staying, all against the
 *    previous round's assignment (the reference's shared-memory loop is
 *    effectively asynchronous; a bulk-synchronous engine cannot replay
 *    that order, so round-count semantics are fixed and oracle-able).
 *  - INTEGER gain: comparing candidate communities for one vertex, the
 *    standard ΔQ ordering reduces (dropping v-constant terms, scaling by
 *    2m) to `score(C) = 2m·e(v→C) − k(v)·(Σtot(C) − [C = c(v)]·k(v))`
 *    — all int64, so the DuckDB oracle matches bit-for-bit with no float
 *    rounding discipline needed.
 *  - ALTERNATING direction rule: odd rounds admit only moves to a
 *    SMALLER community id, even rounds only to a LARGER one (ties on
 *    score → smaller C). Synchronous gain moves famously oscillate (two
 *    adjacent vertices swap communities forever); a swap needs both
 *    directions in the same round, so each round is cycle-free, while the
 *    alternation lets a vertex that grabbed a foreign label early escape
 *    on the next opposite-parity round (a one-direction-only rule strands
 *    it). Labels are names, not ranks — community IDENTITY is the output.
 *
 * Input: a SYMMETRIC unweighted edge table (both directions present),
 * like CC. k(v) = row count of v's out-edges = degree; 2m = Σk.
 */
object Louvain {

  /** Exactly `rounds` synchronous local-move rounds over a weighted
    * symmetric (src, dst, w) edge table: (id, community). An unweighted
    * graph passes w = 1. Also the LEVEL-2 kernel over a coarsened community
    * graph, whose self-loops (internal edge mass) count toward k and Σtot
    * but are never move candidates (a self-loop follows its vertex into
    * any community, so it is constant across candidates). */
  def localMoveRoundsWeighted(edges: DataFrame, rounds: Int): DataFrame =
    moveRounds(edges, edges, rounds, null)

  /** General constrained local-move core. Degrees k(v) and 2m always come
    * from `edges` (the full graph — Leiden's refinement scores sub-
    * community moves against full-graph modularity, leidenClustering.cpp
    * `findNeighboringSubComms`); move CANDIDATES are proposed only
    * through `nbrEdges` (⊆ edges — the intra-community subset during
    * refinement, the whole graph otherwise); `init` is the starting
    * assignment (id, c), null → singletons (Leiden seeds the coarsened
    * level with the PARENT communities instead). */
  private[graft] def moveRounds(edges: DataFrame, nbrEdges: DataFrame,
      rounds: Int, init: DataFrame, startRound: Int = 1): DataFrame = {
    // k(v) = Σ_u A_vu INCLUDING the self-loop; 2m = Σ k is then exactly
    // the original graph's edge-endpoint mass after any coarsening
    val degObs = Materialize.observed(edges.groupBy(col("src").as("id"))
      .agg(sum(col("w")).as("k")), sum(col("k")).as("m2"))
    val (deg, m2) = (degObs.df, degObs.long("m2")) // m2 = 2m, same pass
    // the O(E) side is joined on dst EVERY round — pre-partition and
    // persist it once so only the O(V) state re-shuffles per round (the
    // same exchange-reuse shape as the blocked-CSR kernels); self-loops
    // are excluded here once: they are not edges to OTHER members of a
    // community (their mass still rides `deg`)
    val nonSelf = nbrEdges.filter(col("src") =!= col("dst"))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var state =
      (if (init == null) deg.select(col("id"), col("id").as("c"))
       else init.select(col("id"), col("c"))).transform(Materialize(_))
    for (round <- startRound to rounds) {
      val stdeg = state.join(deg, "id") // (id, c, k) — one O(V) join
      val sigtot = stdeg.groupBy("c").agg(sum(col("k")).as("tot"))
      // e(v→C): edge weight from v into community C (via dst's assignment)
      val nbrE = nonSelf
        .join(state.select(col("id").as("dst"), col("c").as("cand")), "dst")
        .groupBy(col("src").as("id"), col("cand"))
        .agg(sum(col("w")).as("e"))
      // ensure v's OWN community is always a candidate (e may be 0)
      val cand = nbrE
        .unionAll(state.select(col("id"), col("c").as("cand"),
          lit(0L).as("e")))
        .groupBy("id", "cand").agg(sum(col("e")).as("e"))
      val scored = cand
        .join(stdeg, "id")                    // current community + degree
        .filter(if (round % 2 == 1) col("cand") <= col("c")
          else col("cand") >= col("c"))       // alternating direction —
        // applied BEFORE the Σtot join so excluded candidates never join
        .join(sigtot.withColumnRenamed("c", "cand"), "cand") // tot of cand
        .withColumn("score",
          lit(m2) * col("e") -
            col("k") * (col("tot") -
              when(col("cand") === col("c"), col("k")).otherwise(lit(0L))))
      // argmax by (score desc, cand asc) as a partial-aggregating
      // max(struct) — lexicographic struct ordering makes max pick the
      // highest score, then (via the negated id) the smallest cand.
      // Same result as the former row_number window, but it partially
      // aggregates map-side and never sorts the candidate stream.
      state = scored
        .groupBy("id")
        .agg(max(struct(col("score"), (-col("cand")).as("nc"),
          col("cand").as("cd"))).as("m"))
        .select(col("id"), col("m.cd").as("c"))
        .transform(Materialize(_))
    }
    nonSelf.unpersist()
    state.select(col("id"), col("c").as("community"))
  }

  /** Coarsen a weighted symmetric edge table by an assignment: one vertex
    * per community, A'_{CD} = Σ A_{uv} over u∈C, v∈D — self-loops carry
    * the internal mass. The Louvain "aggregation" phase as two hash joins
    * and one grouped sum. */
  def coarsen(edges: DataFrame, assign: DataFrame): DataFrame =
    edges
      .join(assign.select(col("id").as("src"), col("community").as("ca")),
        "src")
      .join(assign.select(col("id").as("dst"), col("community").as("cb")),
        "dst")
      .groupBy(col("ca").as("src"), col("cb").as("dst"))
      .agg(sum(col("w")).as("w"))

  /** Two Louvain levels — local move, aggregate, local move on the
    * community graph, project back: (id, community). The full multi-level
    * loop is this pair iterated; two levels exercise every phase. Level 1
    * is given: `l1` is the materialized [[localMoveRoundsWeighted]]
    * assignment over the weighted edge table `w1` (a suite shares that
    * state instead of recomputing it); this runs aggregation and
    * `rounds2` level-2 rounds. */
  def twoLevel(w1: DataFrame, l1: DataFrame, rounds2: Int): DataFrame = {
    val coarse = coarsen(w1, l1)
    val l2 = localMoveRoundsWeighted(coarse, rounds2)
    l1.join(l2.select(col("id").as("community"),
        col("community").as("c2")), "community")
      .select(col("id"), col("c2").as("community"))
  }

  /** Full multi-level loop: local-move, aggregate, repeat on the
    * coarsened weighted graph until a level stops merging (community
    * count == vertex count) or `maxLevels`; returns the original-vertex
    * assignment (id, community). */
  def cluster(edges: DataFrame, roundsPerLevel: Int = 4,
      maxLevels: Int = 10): DataFrame = {
    var cur = Materialize(edges.select(col("src"), col("dst"), lit(1L).as("w")))
    var mapping: DataFrame = null // cumulative id → community
    var level = 0
    var merging = true
    while (merging && level < maxLevels) {
      val l = Materialize(localMoveRoundsWeighted(cur, roundsPerLevel))
      mapping =
        if (mapping == null) l
        else mapping
          .join(l.select(col("id").as("community"), col("community").as("c2")),
            "community")
          .select(col("id"), col("c2").as("community"))
          .transform(Materialize(_))
      // one driver action per level: count + distinct-count in a single
      // agg over the already-checkpointed assignment (r3 ran two jobs)
      val r = l.agg(count(lit(1)).as("nv"),
        countDistinct(col("community")).as("nc")).first()
      merging = r.getLong(1) < r.getLong(0)
      if (merging) cur = Materialize(coarsen(cur, l))
      level += 1
    }
    mapping
  }

  /** Modularity Q of an assignment over a symmetric edge table, ×1e4 as
    * int64 (for reporting/specs): Q = Σ_C [ in(C)/2m − (Σtot(C)/2m)² ]
    * with in(C) counting both directions of internal edges. */
  def modularityI4(edges: DataFrame, assign: DataFrame): Long = {
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("k"))
    val m2 = deg.agg(sum(col("k"))).first().getLong(0).toDouble
    val a = assign.select(col("id"), col("community"))
    val in = edges
      .join(a.select(col("id").as("src"), col("community").as("ca")), "src")
      .join(a.select(col("id").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .count().toDouble
    // Σ (tot/2m)² as one more agg — never collect the per-community
    // array to the driver (O(communities) rows at scale)
    val sumSq = a.join(deg, "id").groupBy("community")
      .agg(sum(col("k")).as("tot"))
      .agg(coalesce(sum((col("tot") / lit(m2)) * (col("tot") / lit(m2))),
        lit(0.0)))
      .first().getDouble(0)
    val q = in / m2 - sumSq
    math.round(q * 10000)
  }
}
