package graft.operators

import graft.exec.{Materialize, Par}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Andersen-style inclusion-based points-to analysis — the reference's
 * pointstoanalysis app (lonestar/analytics/cpu/pointstoanalysis/
 * PointsTo.cpp:77-430): four constraint kinds over a variable space,
 *
 *   AddressOf p = &o   → o ∈ pts(p)                 (seed facts)
 *   Copy      p = q    → pts(p) ⊇ pts(q)            (static copy edge q→p)
 *   Load      p = *q   → ∀ o ∈ pts(q): pts(p) ⊇ pts(o)   (dynamic edges)
 *   Store     *p = q   → ∀ o ∈ pts(p): pts(o) ⊇ pts(q)
 *
 * solved to a least fixpoint. The reference worklist (PointsTo.cpp
 * processLoadStore / processAddressOfCopy) is order-dependent but the
 * FIXPOINT is not, so the BSP form is semi-naive Datalog: each round
 * first GROWS the copy-edge graph from the load/store constraints joined
 * against the current pts relation, then propagates pts one step along
 * all copy edges — two hash joins + distinct per round, converging to
 * the identical least model. (The reference's online cycle detection
 * `ocd` is a worklist-throughput optimization that collapses
 * pts-equivalent cycles; it never changes the solution, so the engine
 * skips it — Spark's per-round full joins don't suffer the per-node
 * revisit cost it exists to curb.)
 *
 * Scale shape: pts and copy are both (long, long) relations carried as
 * distinct-deduped DataFrames; every round is equi-joins on the first
 * column — AQE handles the growth skew, and the distinct is the same
 * shuffle the join already needs.
 */
object PointsTo {

  /** One SEMI-NAIVE round: new copy edges derive only from the pts
    * DELTA (facts first seen last round), and propagation joins the
    * delta against the full relation on each side — never full × full:
    *
    *   Δcopy_r = f(Δpts_{r-1}) − copy_{r-1}
    *   prop    = copy_r ⋈ Δpts_{r-1}  ∪  Δcopy_r ⋈ pts_{r-1}
    *   Δpts_r  = prop − pts_{r-1}
    *
    * Per-round sets are IDENTICAL to the naive form (f and the
    * propagation are ∪-distributive, and every full×full term is
    * already contained in the previous round's result — the standard
    * semi-naive argument), so the fixed-round oracle is unchanged; the
    * per-round work now shrinks with the frontier instead of
    * re-deriving every prior fact.
    * Returns the lazy (Δpts', Δcopy'). */
  private def round(pts: DataFrame, dPts: DataFrame, copy: DataFrame,
      loads: DataFrame, stores: DataFrame): (DataFrame, DataFrame) = {
    // Load q→p: every NEW pointee o of q becomes a copy source into p
    val fromLoads = loads
      .join(dPts.withColumnRenamed("var", "q"), "q")
      .select(col("obj").as("src"), col("p").as("dst"))
    // Store q→p: q copies into every NEW pointee o of p
    val fromStores = stores
      .join(dPts.withColumnRenamed("var", "p"), "p")
      .select(col("q").as("src"), col("obj").as("dst"))
    val dCopy = fromLoads.unionByName(fromStores).distinct()
      .join(copy, Seq("src", "dst"), "left_anti")
    // propagate: full copy over the pts delta + the copy delta over the
    // (previous) full pts — Δcopy ⋈ Δpts is covered by the first term
    val prop = copy.unionByName(dCopy)
      .join(dPts.withColumnRenamed("var", "src"), "src")
      .select(col("dst").as("var"), col("obj"))
      .unionByName(dCopy
        .join(pts.withColumnRenamed("var", "src"), "src")
        .select(col("dst").as("var"), col("obj")))
    val dPts2 = prop.distinct().join(pts, Seq("var", "obj"), "left_anti")
    (dPts2, dCopy)
  }

  /** At most `maxRounds` BSP rounds: (pts as (var, obj), rounds run).
    * The loop stops when Δpts is empty: the next round would derive no
    * copy edges and propagate nothing, and every completed copy⋈pts
    * product is already ⊆ pts (the semi-naive invariant) — so every
    * later round is the identity and a bound below the fixpoint keeps
    * the oracle's unroll exact. Each Δpts row count rides the pass that
    * materializes it; the start count rides the first checkpoint. */
  def run(addressOf: DataFrame, copies: DataFrame, loads: DataFrame,
      stores: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val n = count(lit(1)).as("n")
    val start = Materialize.observed(
      addressOf.select(col("var"), col("obj")).distinct(), n)
    var pts = start.df
    var dPts = pts // round 1: everything is new
    var frontier = start.long("n")
    var copy = copies.select(col("src"), col("dst")).distinct()
      .transform(Materialize(_))
    var rounds = 0
    // only the two DELTAS are materialized per round (concurrently —
    // one latency); the full pts/copy relations stay LAZY unions of the
    // already-checkpointed deltas, so the heavy prop ∪ distinct ∪
    // anti-join pipeline runs once per round. Union trees over
    // checkpointed leaves stay O(rounds) deep — no lineage blow-up.
    while (frontier > 0 && rounds < maxRounds) {
      val (d2, dc) = round(pts, dPts, copy, loads, stores)
      val (o, dCopy) = Par.both(Materialize.observed(d2, n), Materialize(dc))
      dPts = o.df
      frontier = o.long("n")
      pts = pts.unionByName(dPts)
      copy = copy.unionByName(dCopy)
      rounds += 1
    }
    (pts, rounds)
  }

  /** Per-variable pts-set sizes: (var, npts) — the summary the
    * reference prints (PointsTo.cpp printPointsToInfo). */
  def sizes(pts: DataFrame): DataFrame =
    pts.groupBy("var").agg(count(lit(1)).as("npts"))
}
