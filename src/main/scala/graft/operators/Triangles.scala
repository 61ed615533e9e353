package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions}
import org.apache.spark.sql.functions._

/**
 * Triangle counting — the reference's orderedCount (Triangles.cpp:242-278):
 * count each undirected triangle exactly once by imposing a total order on
 * vertices and counting directed wedges closed by an edge that respects the
 * order. The reference relabels by descending degree when the graph is
 * power-law (makeSortedGraph, Triangles.cpp:355-478) so intersections run
 * on the smallest adjacency lists; here the same effect comes from
 * orienting every undirected edge from the lower-(degree, id) endpoint to
 * the higher one — hubs then have small OUT-lists, which bounds the size of
 * every list an intersection merges (the skew concern at scale).
 *
 * The listing is [[listingFrom]]: per oriented edge (a, b), the sorted
 * merge of the out-lists of a and b — the reference's merge-intersect.
 * Count = |{(a,b,c) : a→b, b→c, a→c in the oriented edge set}|; exact.
 */
object Triangles {

  /** Undirected degree table (id, d) of an already-symmetric edge set =
    * its out-degrees. Factored out so a suite computing many triangle-
    * derived queries over ONE graph shares a single degree pass. */
  def symDegrees(sym: DataFrame): DataFrame =
    sym.groupBy(col("src").as("id")).agg(functions.count(lit(1)).as("d"))

  /** Degree orientation of an already-symmetric edge set given its
    * degree table: keep (a,b) with (deg(a), a) < (deg(b), b). */
  def orientFromSym(sym: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = sym
      .join(deg.select(col("id").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dd")), "dst")
    withDeg.filter(
      (col("ds") < col("dd")) ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src"), col("dst"))
  }

  /** Orient an arbitrary directed edge table: symmetrize + dedup, then keep
    * (a,b) with (deg(a), a) < (deg(b), b). */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val sym = GraphOps.symmetrize(GraphOps.clean(edges))
    // undirected degree = out-degree in the symmetrized graph
    orientFromSym(sym, symDegrees(sym))
  }

  /** The wedge self-join form of [[listingFrom]]: (a, b, c) with a→b,
    * b→c, a→c in the orientation, one row per undirected triangle, by two
    * shuffle joins. No query runs it; it is the independent reference
    * the spec compares [[listingFrom]] against. */
  def listing(oriented: DataFrame): DataFrame = {
    val e1 = oriented.select(col("src").as("a"), col("dst").as("b"))
    val e2 = oriented.select(col("src").as("b2"), col("dst").as("c"))
    val e3 = oriented.select(col("src").as("a3"), col("dst").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
  }

  /** The degree-oriented triangle listing (a, b, c) with a→b, b→c, a→c
    * in the orientation — one row per undirected triangle. This is the
    * ONE expensive enumeration every triangle-derived operator (count,
    * per-vertex credits, diamonds, labeled FSM tiers, truss support)
    * consumes; callers that run several of them share one materialized
    * listing instead of re-listing per query.
    *
    * Over the sorted out-lists `olist` ([[Mining.outLists]] of
    * `oriented`): for each oriented edge (a, b), every c ∈ N⁺(a) ∩ N⁺(b)
    * closes a→b, b→c, a→c — the same rows the wedge self-join
    * [[listing]] produces, but nothing Σ outdeg⁺²-sized ever crosses an
    * exchange: the out-lists ride the byte-gated broadcast
    * ([[Mining.gatedOutLists]]) and the intersection is the zero-
    * allocation codegen'd sorted merge (SortedArrays), so the whole
    * enumeration is one broadcast-joined codegen stage over the O(E)
    * oriented edge set. An endpoint with no out-list closes nothing, so
    * the inner join dropping it is exact. */
  def listingFrom(oriented: DataFrame, olist: DataFrame): DataFrame = {
    val ol = Mining.gatedOutLists(olist)
    oriented
      .join(ol.select(col("src"), col("nbrs").as("na")), "src")
      .join(ol.select(col("src").as("dst"), col("nbrs").as("nb")), "dst")
      .select(col("src").as("a"), col("dst").as("b"),
        explode(graft.functions.SortedArrays.intersect(
          col("na"), col("nb"))).as("c"))
  }

  /** Per-vertex triangle participation counts over a precomputed triangle
    * listing (each triangle credited to all three corners), over all
    * `vertices` (0 for none). */
  def perVertex(tris: DataFrame, vertices: DataFrame): DataFrame = {
    val credits = tris.select(col("a").as("id"))
      .union(tris.select(col("b").as("id")))
      .union(tris.select(col("c").as("id")))
      .groupBy("id").agg(functions.count(lit(1)).as("triangles"))
    vertices
      .join(credits, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}
