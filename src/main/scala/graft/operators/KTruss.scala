package graft.operators

import graft.exec.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * k-truss — the reference's `k-truss` Lonestar app
 * (lonestar/analytics/cpu/k-truss/K-Truss.cpp:40-53, "Computes the
 * maximal k-trusses for a given undirected graph"; SURVEY.md §2.6):
 * iteratively remove edges supported by fewer than k−2 triangles in the
 * surviving subgraph.
 *
 * Representation: each surviving undirected edge is carried CANONICALLY
 * as (lo, hi, fwd) with lo < hi by id and `fwd` recording the DEGREE
 * orientation (lower-(degree, id) endpoint first, like
 * [[Triangles.orientByDegree]] — hubs get small out-lists, which bounds
 * the per-key groups of the triangle joins, the skew concern at web
 * scale). All support/survivor joins are plain equi-joins on (lo, hi)
 * over one stable hash partitioning (r3 joined on least/greatest
 * expression keys, re-shuffling both sides every round).
 *
 * Support is maintained INCREMENTALLY (the standard truss-peeling
 * shape, and the part that matters at 100 TB): the triangle listing
 * ([[Triangles.listingFrom]], shared with the rest of the mining tier)
 * feeds the per-edge support aggregate ONCE; each peel round then finds
 * the triangles touching a just-dropped edge by wedge-joining the SMALL
 * dead set against the previous survivor edges
 * (three position joins, O(|dead|·deg) work) and subtracts their
 * contributions from the persisted support table. Correctness:
 * survivors(i) ⊂ survivors(i−1), so any triangle alive at round i−1 and
 * not at i contains a dropped edge — subtracting one per dead triangle
 * per member edge is exactly the recount. (r3 re-ran the full
 * enumeration every round; an earlier r4 cut kept a materialized
 * triangle TABLE and anti-joined it per round — on the 15M-triangle
 * sf0.1 fixture that rewrite dominated the query. Recomputing dead
 * triangles from the dead set makes every round's cost proportional to
 * what actually died.)
 */
object KTruss {

  /** Canonical form of a degree-oriented edge set: (lo, hi, fwd),
    * lo < hi, fwd = (oriented source == lo), hash-partitioned on
    * (lo, hi) — the partitioning every round's joins reuse. */
  private def canonical(oriented: DataFrame): DataFrame =
    oriented.select(
      least(col("src"), col("dst")).as("lo"),
      greatest(col("src"), col("dst")).as("hi"),
      (col("src") < col("dst")).as("fwd"))
      .repartition(col("lo"), col("hi"))

  private def edgeKey(x: Column, y: Column) =
    struct(least(x, y).as("lo"), greatest(x, y).as("hi"))

  /** Each triangle exploded into its three canonical member edges. */
  private def triEdges(tri: DataFrame): DataFrame =
    tri.select(explode(array(
        edgeKey(col("a"), col("b")),
        edgeKey(col("b"), col("c")),
        edgeKey(col("a"), col("c")))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))

  /** (lo, hi, sup > 0): initial per-edge triangle support. */
  private def initialSupport(tri: DataFrame): DataFrame =
    triEdges(tri).groupBy("lo", "hi").agg(count(lit(1)).as("sup"))

  /** Triangles of the PREVIOUS survivor set `o` (oriented directed form
    * `prev`) holding at least one edge of `dead` (oriented src→dst),
    * exactly once each: one wedge join per edge position — the dead set
    * is small (checkpoint-stat'd → broadcast), so each join is
    * O(|dead|·deg) — then a distinct for triangles with 2-3 dead
    * edges. */
  private def deadTriangles(prev: DataFrame, dead: DataFrame): DataFrame = {
    // oriented triangle (a→b, b→c, a→c); the dead edge can sit at any
    // of the three positions
    val asAB = dead.select(col("src").as("a"), col("dst").as("b"))
      .join(prev.select(col("src").as("a"), col("dst").as("c")), "a")
      .join(prev.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"))
    val asBC = dead.select(col("src").as("b"), col("dst").as("c"))
      .join(prev.select(col("src").as("a"), col("dst").as("b")), "b")
      .join(prev.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"))
    val asAC = dead.select(col("src").as("a"), col("dst").as("c"))
      .join(prev.select(col("src").as("a"), col("dst").as("b")), "a")
      .join(prev.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"))
    asAB.select("a", "b", "c")
      .unionAll(asBC.select("a", "b", "c"))
      .unionAll(asAC.select("a", "b", "c"))
      .distinct()
  }

  private final case class State(o: DataFrame, sup: DataFrame,
    dropped: Long)

  /** One peel round at truss number k. `needNext` skips the support
    * maintenance on the final round (nothing will consume it). A LEFT
    * join with coalesce(sup, 0) — not a semi-join against the filtered
    * support set: support has rows only for edges in ≥1 triangle, so a
    * semi-join would drop zero-support edges even when k ≤ 2 (where
    * sup ≥ k−2 holds at 0 and the 2-truss is the whole graph). */
  private def peel(s: State, k: Int, needNext: Boolean): State = {
    val o = Materialize.observed(s.o.join(s.sup, Seq("lo", "hi"), "left")
      .select(col("lo"), col("hi"), col("fwd"),
        coalesce(col("sup"), lit(0L)).as("sup")),
      sum(when(col("sup") < k - 2, 1L).otherwise(0L)).as("d"))
    val scored = o.df
    val dropped = o.long("d")
    val o2 = scored.filter(col("sup") >= k - 2).select("lo", "hi", "fwd")
    if (!needNext || dropped == 0L) return State(o2, s.sup, dropped)
    val dead = scored.filter(col("sup") < k - 2)
      .select(when(col("fwd"), col("lo")).otherwise(col("hi")).as("src"),
        when(col("fwd"), col("hi")).otherwise(col("lo")).as("dst"))
      .transform(Materialize(_))
    val prev = s.o.select(
      when(col("fwd"), col("lo")).otherwise(col("hi")).as("src"),
      when(col("fwd"), col("hi")).otherwise(col("lo")).as("dst"))
    val dt = deadTriangles(prev, dead)
    val delta = triEdges(dt).groupBy("lo", "hi").agg(count(lit(1)).as("dcnt"))
    val sup2 = s.sup.join(delta, Seq("lo", "hi"), "left")
      .select(col("lo"), col("hi"),
        (col("sup") - coalesce(col("dcnt"), lit(0L))).as("sup"))
      .filter(col("sup") > 0)
      .transform(Materialize(_))
    State(o2, sup2, dropped)
  }

  /** At most `maxRounds` support-peel rounds at truss number k over the
    * degree orientation `oriented` ([[Triangles.orientFromSym]]) and its
    * triangle listing `tris` ([[Triangles.listingFrom]]): (surviving
    * undirected edges as (src < dst), rounds run). The listing feeds the
    * support aggregate directly; this kernel never carries the triangle
    * set itself. A round that drops no edge is a fixpoint: every further
    * round is the identity, so the loop stops there and the result
    * equals the full `maxRounds` unroll (the SQL oracle's form). The
    * last allowed round skips the support maintenance nothing would
    * read. */
  def run(oriented: DataFrame, tris: DataFrame, k: Int,
      maxRounds: Int = 1000): (DataFrame, Int) = {
    var s = State(Materialize(canonical(oriented)),
      Materialize(initialSupport(tris)), -1L)
    var rounds = 0
    while (s.dropped != 0L && rounds < maxRounds) {
      rounds += 1
      s = peel(s, k, needNext = rounds < maxRounds)
    }
    (s.o.select(col("lo").as("src"), col("hi").as("dst")), rounds)
  }
}
