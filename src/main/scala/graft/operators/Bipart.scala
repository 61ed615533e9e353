package graft.operators

import graft.exec.{Materialize, Par}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic multilevel graph bisection — the engine's take on the
 * reference's partitioner apps (lonestar/analytics/cpu/bipart/, 2195 LoC
 * deterministic multilevel HYPERgraph partitioner, and gmetis/, 3163 LoC
 * multilevel k-way): coarsen by matching + contraction, split the
 * coarsest level by balanced prefix, then project up with
 * gain-driven refinement at every level. BiPart's pitch is determinism
 * (same input → same partition regardless of thread count); this BSP
 * form keeps that property — every phase is a fixed-round dataflow with
 * total deterministic orderings, so the unrolled SQL oracle matches
 * bit-for-bit.
 *
 * Phases per level (BiPart §3 structure, graph rather than hypergraph):
 *  1. COARSEN: [[Matching]] rounds (hash-priority Luby matching — the
 *     same deterministic policy BiPart uses in place of random HEM),
 *     matched pair (a,b), a<b contracts onto a; parallel edges merge
 *     with summed weight, self-loops drop, vertex weights add.
 *  2. INITIAL SPLIT at the coarsest level: vertices in id order enter
 *     part 0 while 2·prefixWeight ≤ totalWeight, else part 1.
 *  3. REFINE while uncoarsening: after projecting parts to the finer
 *     level, fixed alternating-direction rounds (odd 0→1, even 1→0 —
 *     one direction per round like BiPart's alternating passes, so a
 *     swap can never thrash): every source-side vertex scores
 *     gain = extWeight − intWeight; positive-gain candidates are thinned
 *     to a priority-INDEPENDENT set (no candidate adjacent to a
 *     higher-(gain desc, id) candidate — movers pairwise non-adjacent,
 *     so each round strictly improves the cut by Σ gain), then ranked
 *     by (gain desc, id) and moved while the running moved weight fits
 *     the balance slack (Wsrc − Wtgt + W/10)/2 — tolerance 10%.
 *
 * Scale: matching/contraction are the proven kernels; refinement is one
 * edge join + grouped sum per round. Both global-ordered prefix sums
 * (initial split, candidate admission) run TIERED — range-partition,
 * per-partition window, broadcast partition-total offsets
 * ([[graft.plans.Ranking.tieredCumSum]]) — so no stage ever funnels
 * through a single partition; the deterministic total order is
 * preserved exactly.
 */
object Bipart {

  private val ImbalanceDen = 10L // 10% tolerance

  /** One coarsening level over canonical (src<dst, w) edges + vertex
    * weights: (contracted edges, contracted vertex weights, id→rep). */
  def coarsenLevel(edges: DataFrame, vw: DataFrame, matchRounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // `edges` is upper-canonical by construction — skip re-orientation
    val matched = Matching.runOriented(edges.select("src", "dst"),
      matchRounds)._1.transform(Materialize(_))
    val map = vw.select(col("id"))
      .join(matched.select(col("dst").as("id"), col("src").as("rep")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      .transform(Materialize(_))
    val ec = edges
      .join(map.withColumnRenamed("id", "src")
        .withColumnRenamed("rep", "r1"), "src")
      .join(map.withColumnRenamed("id", "dst")
        .withColumnRenamed("rep", "r2"), "dst")
      .filter(col("r1") =!= col("r2"))
      .groupBy(least(col("r1"), col("r2")).as("src"),
        greatest(col("r1"), col("r2")).as("dst"))
      .agg(sum(col("w")).as("w"))
    val vwc = vw.join(map, "id")
      .groupBy(col("rep").as("id")).agg(sum(col("wt")).as("wt"))
    (ec, vwc, map)
  }

  /** Balanced prefix split in id order: (id, part). The running weight
    * is the TIERED cumsum (range-partition + per-partition window +
    * broadcast offsets, [[graft.plans.Ranking.tieredCumSum]]) — a
    * globally-ordered unpartitioned window funnels all V vertices
    * through one task, the single-partition exchange the plan-shape
    * spec bans. */
  def initialSplit(vw: DataFrame): DataFrame = {
    val total = vw.agg(sum(col("wt"))).first().getLong(0)
    graft.plans.Ranking.tieredCumSum(vw, Seq(col("id").asc), "wt", "cum")
      .select(col("id"),
        when(col("cum") * 2 <= total, lit(0L)).otherwise(lit(1L)).as("part"))
  }

  /** One refinement round; `srcPart` moves toward the other side. */
  private def refineRound(sym: DataFrame, vw: DataFrame, parts: DataFrame,
      srcPart: Long): DataFrame = {
    val tgt = 1L - srcPart
    val gains = sym
      .join(parts.select(col("id").as("src"), col("part")), "src")
      .join(parts.select(col("id").as("dst"), col("part").as("pd")), "dst")
      .groupBy(col("src").as("id"), col("part"))
      .agg(sum(when(col("pd") =!= col("part"), col("w"))
        .otherwise(-col("w"))).as("gain"))
    val tots = parts.join(vw, "id")
      .agg(sum(when(col("part") === srcPart, col("wt")).otherwise(0L))
          .as("ws"),
        sum(when(col("part") === tgt, col("wt")).otherwise(0L)).as("wt0"),
        sum(col("wt")).as("w")).first()
    val slackNum = tots.getLong(0) - tots.getLong(1) +
      tots.getLong(2) / ImbalanceDen
    val slack = if (slackNum < 0) 0L else slackNum / 2
    val cand = gains.filter(col("part") === srcPart && col("gain") > 0)
      .join(vw, "id").select(col("id"), col("gain"), col("wt"))
      .transform(Materialize(_))
    // INDEPENDENT movers only: drop any candidate with a higher-priority
    // ((gain desc, id asc)) adjacent candidate. Movers are then pairwise
    // non-adjacent, so Δcut = −Σ gain < 0 — each round strictly improves
    // the cut or moves nothing (the invariant the spec asserts; naive
    // simultaneous moves can cancel each other out and worsen it).
    val blocked = sym.select(col("src"), col("dst"))
      .join(cand.select(col("id").as("src"), col("gain").as("g1")), "src")
      .join(cand.select(col("id").as("dst"), col("gain").as("g2")), "dst")
      .filter(col("g2") > col("g1") ||
        (col("g2") === col("g1") && col("dst") < col("src")))
      .select(col("src").as("id")).distinct()
    // priority-ordered admission with a TIERED running weight (no
    // single-partition window): candidates are already thinned to the
    // positive-gain independent set, but on a hub-heavy graph that set
    // is still O(V)-ish — the same tiering as the kway per-part windows.
    val movers = graft.plans.Ranking
      .tieredCumSum(cand.join(blocked, Seq("id"), "left_anti"),
        Seq(col("gain").desc, col("id").asc), "wt", "cum")
      .filter(col("cum") <= slack)
      .select(col("id"))
    parts.join(movers.withColumn("mv", lit(true)), Seq("id"), "left")
      .select(col("id"),
        when(col("mv"), lit(tgt)).otherwise(col("part")).as("part"))
  }

  /** `rounds` alternating refinement rounds (odd 0→1, even 1→0). */
  def refine(sym: DataFrame, vw: DataFrame, parts0: DataFrame,
      rounds: Int): DataFrame = {
    var parts = Materialize(parts0)
    for (r <- 1 to rounds)
      parts = Materialize(refineRound(sym, vw, parts, if (r % 2 == 1) 0L else 1L))
    parts
  }

  /** Full multilevel bisection of an undirected graph given as a
    * directed edge table (symmetrized + upper-oriented internally):
    * (id, part ∈ {0,1}). */
  def bisect(edges: DataFrame, coarsenLevels: Int = 1,
      matchRounds: Int = 2, refineRounds: Int = 2): DataFrame =
    bisectUpper(GraphOps.orientUpper(edges), coarsenLevels, matchRounds,
      refineRounds)

  /** [[bisect]] over an ALREADY upper-canonical edge set (src < dst, one
    * row per undirected edge) — callers holding the symmetrized memo
    * skip the symmetrize+dedup exchange. */
  def bisectUpper(upper: DataFrame, coarsenLevels: Int = 1,
      matchRounds: Int = 2, refineRounds: Int = 2): DataFrame = {
    var cur = Materialize(upper.select(col("src"), col("dst"), lit(1L).as("w")))
    var vw = GraphOps.vertices(cur).distinct()
      .select(col("id"), lit(1L).as("wt")).transform(Materialize(_))
    // coarsen chain, keeping each level for the way back up
    val levels = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, DataFrame, DataFrame)] // (edges, vw, map down)
    for (_ <- 1 to coarsenLevels) {
      val (e2, v2, m) = coarsenLevel(cur, vw, matchRounds)
      levels += ((cur, vw, m))
      cur = Materialize(e2); vw = Materialize(v2)
    }
    var parts = Materialize(initialSplit(vw))
    // uncoarsen: project through each map, refine on the finer level
    for ((fineEdges, fineVw, map) <- levels.reverse) {
      val projected = map
        .join(parts.withColumnRenamed("id", "rep"), "rep")
        .select(col("id"), col("part"))
      val sym = fineEdges.unionByName(
        fineEdges.select(col("dst").as("src"), col("src").as("dst"),
          col("w")))
      parts = refine(sym, fineVw, projected, refineRounds)
    }
    parts
  }

  /** 2^depth-way partition via SIMULTANEOUS recursive bisection — the
    * GMetis k-way analog (gmetis/ is multilevel k-way; BiPart recurses
    * bisection): every level splits EVERY current part in two at once.
    * Matching/contraction are restricted to intra-part edges; the prefix
    * split, balance slack and candidate windows are all computed PER
    * part (`Window.partitionBy(grp)`), so one level costs a constant
    * number of dataflow stages no matter how many parts it splits —
    * the per-part windows are exactly what keeps this 1000-executor
    * shaped where a driver loop over parts would not be. Parts are
    * labeled by bit-append: part' = part·2 + side. */
  def kway(edges: DataFrame, depth: Int, matchRounds: Int = 2,
      refineRounds: Int = 2): DataFrame =
    kwayUpper(GraphOps.orientUpper(edges), depth, matchRounds,
      refineRounds)

  /** [[kway]] over an already upper-canonical edge set. */
  def kwayUpper(upper: DataFrame, depth: Int, matchRounds: Int = 2,
      refineRounds: Int = 2): DataFrame = {
    val canon = Materialize(upper.select(col("src"), col("dst"), lit(1L).as("w")))
    val vw0 = GraphOps.vertices(canon).distinct()
      .select(col("id"), lit(1L).as("wt")).transform(Materialize(_))
    var parts = Materialize(vw0.select(col("id"), lit(0L).as("part")))
    for (_ <- 1 to depth)
      parts = splitLevel(canon, vw0, parts, matchRounds, refineRounds)
        .transform(Materialize(_))
    parts
  }

  /** One k-way level: bisect every part of `parts` simultaneously. */
  private def splitLevel(canon: DataFrame, vw: DataFrame,
      parts: DataFrame, matchRounds: Int, refineRounds: Int): DataFrame = {
    // intra-part edge subset (cross-part edges are cut either way and
    // play no role in a within-part bisection)
    val pe = canon
      .join(parts.select(col("id").as("src"), col("part").as("ps")), "src")
      .join(parts.select(col("id").as("dst"), col("part").as("pd")), "dst")
      .filter(col("ps") === col("pd"))
      .select(col("src"), col("dst"), col("w"))
      .transform(Materialize(_))
    // one coarsening level; matches never cross parts (their edges were
    // filtered out), so reps stay inside their part. The matching rounds
    // and the refinement's symmetrized edge frame are independent
    // dataflows over the checkpointed pe — build them concurrently
    // (guide §2.6).
    val (matched, sym) = Par.both(
      Materialize(Matching.runOriented(pe.select("src", "dst"),
        matchRounds)._1),
      Materialize(pe.unionByName(pe.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))))
    val map = parts
      .join(matched.select(col("dst").as("id"), col("src").as("rep")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"),
        col("part").as("grp"))
      .transform(Materialize(_))
    val vwc = vw.join(map, "id")
      .groupBy(col("rep").as("id"), col("grp"))
      .agg(sum(col("wt")).as("wt"))
    // per-part balanced prefix split of the coarse vertices
    val cw = Window.partitionBy(col("grp")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vwc.groupBy("grp").agg(sum(col("wt")).as("tot"))
    val p0c = vwc.join(tot, "grp")
      .select(col("id").as("rep"), col("grp"),
        (col("grp") * 2 +
          when(sum(col("wt")).over(cw) * 2 <= col("tot"), 0L)
            .otherwise(1L)).as("part"))
    var cur = map.join(p0c, Seq("rep", "grp"))
      .select(col("id"), col("part"))
      .transform(Materialize(_))
    // grouped refinement at the fine level (sym prebuilt above)
    for (r <- 1 to refineRounds)
      cur = refineRoundGrouped(sym, vw, cur, if (r % 2 == 1) 0L else 1L)
        .transform(Materialize(_))
    cur
  }

  /** One grouped refinement round: within every pair (grp = part / 2),
    * side `srcSide` moves toward the other side; balance slack and the
    * candidate ranking are per pair, as column expressions — no driver
    * scalars. */
  private def refineRoundGrouped(sym: DataFrame, vw: DataFrame,
      parts: DataFrame, srcSide: Long): DataFrame = {
    // sym is already intra-pair (built from the level's intra-part
    // edges), so gains see only the pair's internal and cross-side mass
    val gains = sym
      .join(parts.select(col("id").as("src"), col("part")), "src")
      .join(parts.select(col("id").as("dst"), col("part").as("pd")), "dst")
      .groupBy(col("src").as("id"), col("part"))
      .agg(sum(when(col("pd") =!= col("part"), col("w"))
        .otherwise(-col("w"))).as("gain"))
    val tots = parts.join(vw, "id")
      .groupBy((col("part") / 2).cast("long").as("grp"))
      .agg(sum(when(col("part") % 2 === srcSide, col("wt"))
          .otherwise(0L)).as("ws"),
        sum(when(col("part") % 2 =!= srcSide, col("wt"))
          .otherwise(0L)).as("wt0"),
        sum(col("wt")).as("w"))
      .withColumn("sn", col("ws") - col("wt0") +
        floor(col("w") / lit(ImbalanceDen.toDouble)).cast("long"))
      .withColumn("slack",
        when(col("sn") < 0, lit(0L))
          .otherwise(floor(col("sn") / lit(2.0)).cast("long")))
    val cand = gains
      .filter(col("part") % 2 === srcSide && col("gain") > 0)
      .join(vw, "id")
      .select(col("id"), col("part"), col("gain"), col("wt"),
        (col("part") / 2).cast("long").as("grp"))
      .transform(Materialize(_))
    // priority-independent movers within each pair (cross-pair adjacency
    // cannot change a within-pair gain, so only same-pair neighbours
    // block)
    val blocked = sym.select(col("src"), col("dst"))
      .join(cand.select(col("id").as("src"), col("gain").as("g1"),
        col("grp").as("q1")), "src")
      .join(cand.select(col("id").as("dst"), col("gain").as("g2"),
        col("grp").as("q2")), "dst")
      .filter(col("q1") === col("q2") &&
        (col("g2") > col("g1") ||
          (col("g2") === col("g1") && col("dst") < col("src"))))
      .select(col("src").as("id")).distinct()
    val cw = Window.partitionBy(col("grp"))
      .orderBy(col("gain").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val movers = cand.join(blocked, Seq("id"), "left_anti")
      .select(col("id"), col("grp"), sum(col("wt")).over(cw).as("cum"))
      .join(tots.select(col("grp"), col("slack")), "grp")
      .filter(col("cum") <= col("slack"))
      .select(col("id"))
    parts.join(movers.withColumn("mv", lit(true)), Seq("id"), "left")
      .select(col("id"),
        when(col("mv"),
          (col("part") / 2).cast("long") * 2 + (1L - srcSide))
          .otherwise(col("part")).as("part"))
  }

  /** Cut weight of a partition over the canonical edge set (spec +
    * reporting helper — the quantity BiPart minimizes). */
  def cutWeight(edges: DataFrame, parts: DataFrame): Long =
    edges
      .join(parts.select(col("id").as("src"), col("part").as("p1")), "src")
      .join(parts.select(col("id").as("dst"), col("part").as("p2")), "dst")
      .filter(col("p1") =!= col("p2"))
      .agg(coalesce(sum(col("w")), lit(0L))).first().getLong(0)
}
