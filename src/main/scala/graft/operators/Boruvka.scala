package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Boruvka minimum spanning tree/forest — the reference's `spanningtree`
 * Lonestar app (lonestar/analytics/cpu/spanningtree/, ~440 LoC;
 * SURVEY.md §2.6), BSP-shaped: per round every component picks its
 * minimum outgoing edge (one grouped struct-min — the `GAccumulator`
 * min-reduction analog), the picked edges enter the forest, and the
 * merge graph is contracted with the pointer-jump kernel CC already
 * uses (union-find path compression analog).
 *
 * Input: one row per undirected edge, (src < dst, w). Ties are broken by
 * the total order (w, src, dst) — equivalent to an infinitesimal weight
 * perturbation, so the result is a minimum spanning forest even with
 * duplicate weights, and every round is deterministic (SQL-oracle-able).
 *
 * Per round, over the surviving cross-component edges E_x:
 *  1. label endpoints with current components (2 hash joins), drop
 *     intra-component edges — E_x only shrinks;
 *  2. per-component min edge: explode each edge to both sides' components,
 *     one grouped min over (w, src, dst) structs — map-side partial min,
 *     one shuffle of O(components) rows;
 *  3. hooking: each component points at its partner across the picked
 *     edge. With a total edge order the component pointer graph's only
 *     cycles are 2-cycles (mutual picks of the same minimum edge), broken
 *     at the smaller id — a forest;
 *  4. pointer jumping (p' = p[p]) to the roots — O(log chain) rounds of a
 *     small self-join — then one label translate. Contraction is COMPLETE
 *     per round, so a later round can never re-connect two already-merged
 *     components (which would admit a cycle edge into the forest).
 *
 * O(log V) rounds total; each round's heavy ops are sized by the
 * SHRINKING cross-edge set, never by O(V·E).
 */
object Boruvka {

  /** Labeled cross-component edges of `cur` under `comp`. */
  private def cross(cur: DataFrame, comp: DataFrame): DataFrame =
    cur
      .join(comp.select(col("id").as("src"), col("comp").as("cs")), "src")
      .join(comp.select(col("id").as("dst"), col("comp").as("cd")), "dst")
      .filter(col("cs") =!= col("cd"))

  /** One Boruvka round over labeled cross edges: (picked forest edges,
    * root mapping c → p covering every component with a cross edge).
    * Pointer jumps run until stable, at most `jumps` of them. */
  private def round(x: DataFrame, jumps: Int): (DataFrame, DataFrame) = {
    // both sides' components as candidate owners of the edge; the struct
    // min is decided by (w, src, dst) — unique per edge — with `other`
    // riding along for the hook step
    val cand = x.select(col("cs").as("c"),
        struct(col("w"), col("src"), col("dst"), col("cd").as("other"))
          .as("e"))
      .unionAll(x.select(col("cd").as("c"),
        struct(col("w"), col("src"), col("dst"), col("cs").as("other"))
          .as("e")))
    val sel = Materialize(cand.groupBy("c").agg(min(col("e")).as("e"))
      .select(col("c"), col("e.w").as("w"), col("e.src").as("src"),
        col("e.dst").as("dst"), col("e.other").as("other")))
    // an edge picked from both sides enters the forest once
    val picked = sel.select(col("src"), col("dst"), col("w")).distinct()

    // hook: p(c) = partner component; break the 2-cycles (mutual picks) at
    // the smaller id, making the pointer graph a forest with self-rooted
    // minima. `other` always has a pick of its own (it owns a cross edge),
    // so the inner join is total.
    val q = sel.select(col("c").as("qc"), col("other").as("qp"))
    var p = Materialize(sel.join(q, sel("other") === col("qc"))
      .select(col("c"),
        when(col("qp") === col("c") && col("c") < col("other"), col("c"))
          .otherwise(col("other")).as("p")))

    // pointer jump p' = p[p] until stable, bounded by `jumps`. Roots
    // self-map, so once stable every further jump is a no-op —
    // stopping early yields EXACTLY the fixed-round result as long as the
    // bound covers log2(#components), while skipping the no-op actions
    // (the SQL oracle unrolls the full fixed count; same fixpoint).
    var moved = 1L
    var j = 0
    while (moved > 0 && j < jumps) {
      val pr = p.select(col("c").as("jc"), col("p").as("jp"))
      val o = Materialize.observed(p.join(pr, p("p") === col("jc"))
        .select(col("c"), col("jp").as("p"),
          (col("jp") =!= col("p")).as("m")),
        Seq(sum(when(col("m"), 1L).otherwise(0L)).as("n")),
        _.select(col("c"), col("p")))
      p = o.df
      moved = o.long("n")
      j += 1
    }
    // Hook chains can be O(#components), not O(log): if the fixed bound
    // was hit while pointers were still moving, the contraction is
    // INCOMPLETE and a later round could admit a cycle edge. Surface it
    // loudly instead of silently breaking the forest invariant —
    // callers that bound `jumps` must size it to cover the longest chain.
    if (moved > 0) {
      System.err.println(s"[graft] Boruvka: pointer-jump bound " +
        s"$jumps hit with $moved pointers still moving — " +
        "contraction incomplete; increase `jumps`")
    }
    (picked, p)
  }

  private def translate(comp: DataFrame, p: DataFrame): DataFrame =
    Materialize(comp.join(p, comp("comp") === p("c"), "left")
      .select(comp("id"), coalesce(col("p"), comp("comp")).as("comp")))

  /** At most `maxRounds` Boruvka rounds with at most `jumps` pointer
    * jumps per round: (forest edges picked so far as (src, dst, w),
    * rounds run). A drained cross-edge set is a fixpoint: every further
    * round is the identity, so the loop stops there and the forest is
    * minimum spanning; a bound below that keeps the oracle's unroll
    * exact. The oracle unrolls a fixed jump count, so `jumps` must cover
    * log2 of the component count (extra jumps are no-ops, skipped once
    * the pointers stop moving). The cross-edge count rides each
    * materializing pass, the start state's included. */
  def run(edges: DataFrame, maxRounds: Int = 100,
      jumps: Int = Int.MaxValue): (DataFrame, Int) = {
    var comp = Materialize(GraphOps.vertices(edges)
      .select(col("id"), col("id").as("comp")))
    val start = Materialize.observed(edges.select("src", "dst", "w"),
      count(lit(1)).as("n"))
    var cur = start.df
    var left = start.long("n")
    var mst = cur.limit(0)
    var rounds = 0
    while (left > 0 && rounds < maxRounds) {
      val o = Materialize.observed(cross(cur, comp), count(lit(1)).as("n"))
      val x = o.df
      left = o.long("n")
      if (left > 0) {
        val (picked, p) = round(x, jumps)
        mst = mst.unionAll(picked)
        comp = translate(comp, p)
        cur = x.select("src", "dst", "w")
        rounds += 1
      }
    }
    (mst, rounds)
  }
}
