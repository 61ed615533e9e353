package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Edge-table transformations — the Spark-native equivalents of the
 * reference's `graph-convert` tools (see /root/reference/tools/graph-convert/
 * graph-convert.cpp: gr2cgr :151-152, gr2sgr :172-174, gr2tgr :185,
 * gr2trigr :187-188, gr2sorteddegreegr :175-183) and `graph-stats`
 * (tools/graph-stats/graph-stats.cpp:31-50).
 *
 * All operate on a plain edge DataFrame with columns (src: Long, dst: Long).
 * The CSR layout of the reference (LC_CSR_Graph.h:169-175) is just an edge
 * list sorted/bucketed by src; we keep edge rows and let [[Adjacency]] build
 * the blocked form when an algorithm wants it.
 */
object GraphOps {

  /** gr2cgr: drop self-loops and duplicate edges (graph-convert.cpp:151-152). */
  def clean(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst")).dropDuplicates("src", "dst")

  /** gr2tgr: transpose (graph-convert.cpp:185; LC_CSR_Graph.h:677). */
  def transpose(edges: DataFrame): DataFrame =
    edges.select(col("dst").as("src"), col("src").as("dst"))

  /** gr2sgr: symmetrize — materialize both directions (graph-convert.cpp:172-174). */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select("src", "dst").union(transpose(edges)).dropDuplicates("src", "dst")

  /** gr2trigr: symmetric → upper-triangular, one row per undirected edge
    * (graph-convert.cpp:187-188). */
  def orientUpper(edges: DataFrame): DataFrame =
    symmetrize(edges).filter(col("src") < col("dst"))

  /** Distinct vertex ids appearing as either endpoint. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()

  /** computeOutDeg (PageRank-pull.cpp:90-127): out-degree per source. */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))

  /** Full (out, in) degree table over all vertices; missing side = 0. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    val in  = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("indeg"))
    vertices(edges)
      .join(out, Seq("id"), "left")
      .join(in, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("indeg"), lit(0L)).as("indeg"))
  }

  /** graph-stats (graph-stats.cpp:31-50): out-degree histogram. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    degrees(edges).groupBy("outdeg").agg(count(lit(1)).as("n_vertices"))

  /** graph-stats indegreehist (graph-stats.cpp:51,260): in-degree
    * histogram over all vertices (sources count with indeg 0) — the
    * dst-side skew detector the out-degree histogram can't see. */
  def inDegreeHistogram(edges: DataFrame): DataFrame =
    degrees(edges).groupBy("indeg").agg(count(lit(1)).as("n_vertices"))

  /** graph-stats sparsityPattern (graph-stats.cpp:125-141,266-277): the
    * adjacency matrix coarsened to a `blocks`×`blocks` grid over the dense
    * id extent; each present cell carries its edge count (the reference
    * prints 'x' for any non-zero, this keeps the count). One scan + one
    * grouped aggregate — no per-cell passes. */
  def sparsityPattern(edges: DataFrame, blocks: Int = 8): DataFrame = {
    val maxRow = edges.agg(greatest(max(col("src")), max(col("dst")))).first()
    if (maxRow.isNullAt(0)) // empty edge table: empty grid, not an NPE
      return edges.select(lit(0L).as("row_block"), lit(0L).as("col_block"),
        lit(0L).as("n_edges")).limit(0)
    val extent = maxRow.getLong(0) + 1
    val bs = (extent + blocks - 1) / blocks
    edges
      .select(expr(s"src DIV $bs").as("row_block"),
        expr(s"dst DIV $bs").as("col_block"))
      .groupBy("row_block", "col_block")
      .agg(count(lit(1)).as("n_edges"))
  }

  /** Hub detection — vertices whose out-degree exceeds `factor`× the mean
    * out-degree; the skew-detection pass feeding edge tiling / salting
    * (cf. EDGE_TILE_SIZE tiling, PageRank-push.cpp:143-154). */
  def hubs(edges: DataFrame, factor: Double = 2.0): DataFrame = {
    val deg = outDegrees(edges)
    val meanRow = deg.agg(avg(col("outdeg"))).first()
    if (meanRow.isNullAt(0)) return deg // empty: no hubs, not an NPE
    deg.filter(col("outdeg") >= lit(factor * meanRow.getDouble(0)))
  }

  /** gr2sorteddegreegr (graph-convert.cpp:175-183): relabel vertices in
    * descending-degree order (ties → smaller original id first), as a
    * (id, new_id) dictionary. Mirrors Triangles.cpp:355-478
    * makeSortedGraph's parallel sort + prefix sum: the rank comes from
    * [[graft.plans.Ranking.globalRank]] (range-partition + per-partition
    * row_number + O(P) driver prefix sum), NOT a global single-partition
    * window. */
  def relabelByDegree(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
      .select(col("id"), (col("outdeg") + col("indeg")).as("d"))
    graft.plans.Ranking
      .globalRank(deg, Seq(col("d").desc, col("id").asc), "new_id")
      .select(col("id"), col("new_id"))
  }

  /** gr2randgr (graph-convert.cpp:166,1069-1095 RandomizeNodes): permute
    * vertex ids, as a (id, new_id) dictionary. The reference shuffles with
    * a random_device; this engine uses a DETERMINISTIC engine-neutral hash
    * permutation (rank of (h(id), id) via the distributed global rank) so
    * the output is reproducible and oracle-verifiable — same graph
    * isomorphism class, fixed seed. */
  def permuteRandom(edges: DataFrame): DataFrame = {
    // h(id) = ((id mod 1000003) * 2654435761 + id) mod 2^32: stays far
    // below 2^63 (ANSI-safe) and is plain integer SQL on the oracle side
    val h = (col("id") % lit(1000003L)) * lit(2654435761L) + col("id")
    graft.plans.Ranking.globalRank(
      vertices(edges).select(col("id"), pmod(h, lit(4294967296L)).as("h")),
      Seq(col("h").asc, col("id").asc), "new_id")
      .select(col("id"), col("new_id"))
  }

  /** gr2lowdegreegr (graph-convert.cpp:158,1593-1650 RemoveHighDegree):
    * keep only edges whose BOTH endpoints have out-degree ≤ maxDegree
    * (degree in the stored orientation, like the reference). Re-iding the
    * survivors is the dictionary pass's job ([[relabelByDegree]] /
    * densify), kept separate here. */
  def removeHighDegree(edges: DataFrame, maxDegree: Long): DataFrame = {
    // anti-join against the HIGH set (not semi-join on the low set): a
    // dst with no out-edges has out-degree 0 and must be kept
    val high = outDegrees(edges).filter(col("outdeg") > maxDegree)
      .select(col("id"))
    edges
      .join(high.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(high.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .select("src", "dst")
  }

  /** gr2randomweightgr (graph-convert.cpp:70): attach per-edge weights.
    * The reference draws from a PRNG; this engine derives them
    * DETERMINISTICALLY from the endpoints (plain integer polynomial, so
    * runs are reproducible and the SQL oracle replicates them) — weights
    * in [1, modulus]. */
  def attachWeights(edges: DataFrame, modulus: Long = 97L): DataFrame =
    edges.withColumn("w",
      lit(1L) + pmod(col("src") * 7 + col("dst") * 13, lit(modulus)))
}
